"""Property-based tests (SURVEY.md §5.2 layer 5): the reusable operators
(asof_join, sessionize) checked against brute-force Python reference
implementations on random inputs, plus algebraic invariants. Hypothesis is
configured small and derandomized — each example round-trips through Spark."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from tests.conftest import full_sweeps_only

from aws_etl_microservice_redshift_datalake_spark.operators.events import (
    asof_join,
    sessionize,
)

_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (key, ts) pairs on tiny domains so collisions/ties are common — ties are
# exactly where as-of/session semantics go wrong
_events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 20)), min_size=0, max_size=25
)
_builds = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 20), st.integers(-100, 100)),
    min_size=0,
    max_size=15,
)


def _brute_asof(probe, build):
    """Reference: latest build value with b_ts <= p_ts per key; ties on b_ts
    resolved to the row with max value (mirroring the pre-dedup the operator
    requires)."""
    out = {}
    for i, (k, t) in enumerate(probe):
        best = None
        for bk, bt, bv in build:
            if bk == k and bt <= t:
                cand = (bt, bv)
                if best is None or cand > best:
                    best = cand
        out[i] = None if best is None else best[1]
    return out


@given(probe=_events, build=_builds)
@settings(**_SETTINGS)
@full_sweeps_only
def test_asof_join_matches_bruteforce(spark, probe, build):
    pdf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(probe)] or [(None, None, None)],
        "row_id long, k long, t long",
    ).filter(F.col("row_id").isNotNull())
    # dedupe build per (key, ts): keep max value (documented requirement)
    bdf = (
        spark.createDataFrame(
            [(k, t, v) for k, t, v in build] or [(None, None, None)],
            "k long, bt long, v long",
        )
        .filter(F.col("k").isNotNull())
        .groupBy("k", "bt")
        .agg(F.max("v").alias("v"))
    )
    got = {
        r["row_id"]: r["asof_v"]
        for r in asof_join(
            pdf, bdf.withColumnRenamed("v", "v").select("k", "bt", F.col("v")),
            key="k", probe_ts="t", build_ts="bt", value_cols=["v"],
        ).collect()
    }
    want = _brute_asof(probe, build)
    assert got == want


def test_asof_join_rejects_colliding_value_cols(spark):
    """A probe column sharing a value_col name would be silently nulled by
    the union-tag shape — the operator must refuse instead."""
    import pytest

    p = spark.createDataFrame([(1, 10, 99)], "k long, t long, v long")
    b = spark.createDataFrame([(1, 5, 7)], "k long, bt long, v long")
    with pytest.raises(ValueError, match="collide"):
        asof_join(p, b, key="k", probe_ts="t", build_ts="bt", value_cols=["v"])


def _brute_sessions(events, gap):
    """Reference sessionizer: per key, sort by ts (stable by input order for
    ties is NOT required — we only compare session-count multisets)."""
    from collections import defaultdict

    by_key = defaultdict(list)
    for k, t in events:
        by_key[k].append(t)
    sizes = []
    for k, ts in by_key.items():
        ts.sort()
        cur = 1
        for a, b in zip(ts, ts[1:]):
            if b - a > gap:
                sizes.append(cur)
                cur = 1
            else:
                cur += 1
        sizes.append(cur)
    return sorted(sizes)


@given(events=_events, gap=st.integers(1, 10))
@settings(**_SETTINGS)
@full_sweeps_only
def test_sessionize_matches_bruteforce(spark, events, gap):
    df = spark.createDataFrame(
        [(k, t) for k, t in events] or [(None, None)], "k long, t long"
    ).filter(F.col("k").isNotNull())
    tagged = sessionize(df, key="k", ts_seconds=F.col("t"), gap_s=gap)
    got = sorted(
        r["n"] for r in tagged.groupBy("k", "session_id").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    )
    assert got == _brute_sessions(events, gap)


@given(xs=st.lists(st.integers(-5, 5), max_size=30), ys=st.lists(st.integers(-5, 5), max_size=30))
@settings(**_SETTINGS)
@full_sweeps_only
def test_union_all_counts(spark, xs, ys):
    a = spark.createDataFrame([(x,) for x in xs] or [(None,)], "v long").filter(
        F.col("v").isNotNull()
    )
    b = spark.createDataFrame([(y,) for y in ys] or [(None,)], "v long").filter(
        F.col("v").isNotNull()
    )
    assert a.unionAll(b).count() == len(xs) + len(ys)
    assert a.union(b).distinct().count() == len(set(xs) | set(ys))
    assert a.intersect(b).count() == len(set(xs) & set(ys))


@given(xs=st.lists(st.integers(0, 8), max_size=30))
@settings(**_SETTINGS)
@full_sweeps_only
def test_distinct_idempotent_and_exact(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs] or [(None,)], "v long").filter(
        F.col("v").isNotNull()
    )
    d1 = df.distinct()
    assert d1.count() == len(set(xs))
    assert d1.distinct().count() == len(set(xs))


# --------------------------------------------------------------------------
# connected_components vs brute-force union-find
# --------------------------------------------------------------------------

_edges = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=30
)


def _brute_components(edges):
    """Reference union-find: node -> min reachable node id."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in edges:
        nodes.update((a, b))
    for n in nodes:
        parent[n] = n
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # one more pass: path-compress to the true min root
    return {n: find(n) for n in nodes}


# connected_components solves graphs up to CC_DRIVER_MAX_EDGES on the
# driver; a cap of 0 sends every graph through the Spark star loop, the path
# larger graphs take. Checks parametrized over both run the driver path in
# every verify and the star loop (20-60 s per sweep) under full sweeps.
_CC_PATHS = [
    pytest.param(None, id="driver"),
    pytest.param(0, id="spark", marks=full_sweeps_only),
]


def _cc_cap(monkeypatch, cap):
    from aws_etl_microservice_redshift_datalake_spark.operators import dedup

    if cap is not None:
        monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", cap)
    return dedup


@pytest.mark.parametrize("cap", _CC_PATHS)
@given(_edges)
@settings(**_SETTINGS)
def test_connected_components_matches_union_find(spark, monkeypatch, cap, edges):
    dedup = _cc_cap(monkeypatch, cap)
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "a BIGINT, b BIGINT"
    )
    got = {
        r.node: r.comp
        for r in dedup.connected_components(pairs, "a", "b").collect()
    }
    assert got == _brute_components(edges)


@pytest.mark.parametrize(
    "ddl", ["a BIGINT, b BIGINT", "a INT, b INT", "a INT, b BIGINT"]
)
def test_connected_components_driver_matches_spark_path(spark, monkeypatch, ddl):
    """The driver solve and the star loop return identical rows and an
    identical schema on one graph with duplicate edges, a self-loop-only
    node, null endpoints (one (null, null) row; the other end labels
    itself) and two components — and on an empty edge list. The driver
    side runs under np.errstate(all="raise")."""
    import numpy as np

    from aws_etl_microservice_redshift_datalake_spark.operators import dedup

    rows = [(1, 2), (2, 3), (1, 2), (3, 1), (7, 7), (10, 11), (11, 10),
            (5, None), (None, 12), (None, None)]
    for edges in (rows, []):
        pairs = spark.createDataFrame(edges, ddl)
        with np.errstate(all="raise"):
            driver = dedup.connected_components(pairs, "a", "b")
            got = sorted(driver.collect(), key=repr)
        monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
        star = dedup.connected_components(pairs, "a", "b")
        want = sorted(star.collect(), key=repr)
        monkeypatch.undo()
        assert driver.schema == star.schema
        assert got == want
        assert {(r.node, r.comp) for r in got} == (
            {(1, 1), (2, 1), (3, 1), (7, 7), (10, 10), (11, 10), (5, 5),
             (12, 12), (None, None)} if edges else set()
        )


# --------------------------------------------------------------------------
# Round-3 additions: posting-list Jaccard and the CMS sketch
# --------------------------------------------------------------------------

_docs = st.lists(
    # tiny vocab so shared shingles are common; 3..6 tokens per doc
    st.lists(st.integers(0, 5), min_size=3, max_size=6),
    min_size=0,
    max_size=12,
)


def _brute_jaccard_pairs(docs, cap, thresh):
    """Reference: distinct word-3-shingles per doc; drop shingles whose
    document frequency exceeds cap; exact Jaccard over the capped sets."""
    sets = {}
    for i, toks in enumerate(docs):
        sh = {tuple(toks[j : j + 3]) for j in range(len(toks) - 2)}
        sets[i] = sh
    df = {}
    for sh in sets.values():
        for s in sh:
            df[s] = df.get(s, 0) + 1
    kept = {i: {s for s in sh if df[s] <= cap} for i, sh in sets.items()}
    out = {}
    ids = sorted(kept)
    for a in ids:
        for b in ids:
            if a < b and kept[a] and kept[b]:
                i = len(kept[a] & kept[b])
                u = len(kept[a]) + len(kept[b]) - i
                if u and i / u >= thresh:
                    out[(a, b)] = i / u
    return out


@given(docs=_docs)
@settings(**_SETTINGS)
@full_sweeps_only
def test_posting_list_jaccard_matches_bruteforce(spark, docs):
    """The bounded-posting-list candidate generation + exact verify must
    equal all-pairs capped Jaccard on random corpora (cap 3 so the stopword
    path actually triggers at this size)."""
    from pyspark.sql import functions as F

    cap, thresh = 3, 0.5
    rows = [(i, " ".join(f"w{t}" for t in toks)) for i, toks in enumerate(docs)]
    d = spark.createDataFrame(rows or [(None, None)], "doc_id long, text string").filter(
        F.col("doc_id").isNotNull()
    )
    toks = d.select("doc_id", F.split("text", " ").alias("toks"))
    sh_arr = F.when(
        F.size("toks") >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at("toks", i + 1),
                F.element_at("toks", i + 2),
                F.element_at("toks", i + 3),
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", "toks")))
    sh = (
        toks.select("doc_id", F.array_distinct(sh_arr).alias("sh"))
        .select("doc_id", F.explode("sh").alias("s"))
    )
    postings = (
        sh.groupBy("s").agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") <= cap)
    )
    inter = (
        postings.select("ds", F.explode("ds").alias("doc_a"))
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sizes = (
        postings.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("i").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in inter.join(na, "doc_a").join(nb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= thresh)
        .collect()
    }
    want = _brute_jaccard_pairs(docs, cap, thresh)
    assert got.keys() == want.keys()
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12


_cms_vals = st.lists(st.integers(0, 30), min_size=1, max_size=60)


@given(vals=_cms_vals)
@settings(**_SETTINGS)
@full_sweeps_only
def test_cms_never_undercounts(spark, vals):
    """CMS one-sided error on random data: estimate >= true count for every
    key, and total over-estimation bounded by depth x eps x N in the worst
    case (loose sanity bound; the tight per-key bound is probabilistic)."""
    from aws_etl_microservice_redshift_datalake_spark.operators.aggregates import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame([(v,) for v in vals], "k long")
    sketch = cms_build(df, "k", eps=0.01, confidence=0.95, seed=7)
    keys = df.select("k").distinct()
    est = {
        r.k: r.est
        for r in cms_estimate(sketch, keys, "k", eps=0.01, confidence=0.95, seed=7).collect()
    }
    truth = {}
    for v in vals:
        truth[v] = truth.get(v, 0) + 1
    assert est.keys() == truth.keys()
    for k, n in truth.items():
        assert est[k] >= n, f"undercount for {k}"


def test_pack_bins_respect_budget_guarantee(spark):
    """Streaming-packing guarantee: every bin holds ≤ PACK_BUDGET +
    max_doc_tokens − 1 tokens (a doc lands in the bin its running-total
    START offset falls in), within every (source, shard) packing unit."""
    from pyspark.sql import functions as F

    from aws_etl_microservice_redshift_datalake_spark.operators.sampling import (
        PACK_BUDGET,
        q_pack_sequences,
    )
    from aws_etl_microservice_redshift_datalake_spark.sources.io import load_table
    from tests.conftest import SF_MED

    max_tok = (
        load_table(spark, SF_MED, "documents")
        .select(F.size(F.split("text", " ")).alias("t"))
        .agg(F.max("t"))
        .collect()[0][0]
    )
    bins = q_pack_sequences(spark, SF_MED).collect()
    assert len(bins) > 0
    for r in bins:
        assert r.bin_tokens <= PACK_BUDGET + max_tok - 1, dict(r.asDict())


def test_ngram_decontamination_catches_planted_dups(spark):
    """sf0.1 documents contain duplicated texts by construction
    (FIXTURES.md); some dup pairs straddle the 80/20 hash split, so the
    n-gram decontamination report must flag a nonzero contaminated count —
    and never more than n_test."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        q_decontaminate_ngram,
    )

    rows = q_decontaminate_ngram(spark, "/root/testdata/sf0.1").collect()
    total_cont = sum(r.n_contaminated for r in rows)
    assert total_cont > 0, "planted duplicates across the split not detected"
    for r in rows:
        assert 0 <= r.n_contaminated <= r.n_test


def test_cms_heavy_hitters_equals_exact(spark):
    """The sketch prune must be output-invisible: q_cms_heavy_hitters equals
    the direct exact computation (sample-candidates ∩ count ≥ T) because
    CMS never under-counts."""
    import math

    from pyspark.sql import functions as F

    from aws_etl_microservice_redshift_datalake_spark.operators.aggregates import (
        HH_SAMPLE_PCT,
        HH_SUPPORT,
        q_cms_heavy_hitters,
    )
    from aws_etl_microservice_redshift_datalake_spark.sources.io import load_table, table_rows
    from tests.conftest import SF_MED

    got = {(r.user_id, r.n_events) for r in q_cms_heavy_hitters(spark, SF_MED).collect()}
    e = load_table(spark, SF_MED, "events")
    t_min = math.ceil(HH_SUPPORT * table_rows(SF_MED, "events"))
    bucket = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 6), 16, 10
    ).cast("bigint") % 100
    cand = e.filter(bucket < HH_SAMPLE_PCT).select("user_id").distinct()
    exact = {
        (r.user_id, r.n)
        for r in e.join(cand, "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= t_min)
        .collect()
    }
    assert got == exact and len(got) > 0


def test_connected_components_deep_path(spark, monkeypatch):
    """A 60-node path graph: component diameter 59 — hash-min label
    propagation would need 59 rounds (past the 20-round cap); the round-4
    large-star/small-star alternation contracts it within the cap
    (O(log² n) rounds). All nodes must resolve to component 0. The driver
    cap is 0, so the star loop runs."""
    from aws_etl_microservice_redshift_datalake_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    connected_components = dedup.connected_components
    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a BIGINT, b BIGINT"
    )
    got = {r.node: r.comp for r in connected_components(pairs, "a", "b").collect()}
    assert got == {i: 0 for i in range(n)}


@pytest.mark.parametrize("cap", _CC_PATHS)
def test_connected_components_random_graph_400(spark, monkeypatch, cap):
    """Seeded 400-node / 300-edge random graph vs brute union-find — the
    hypothesis strategy stays tiny (≤ 13 nodes) for per-example Spark cost,
    so this one larger deterministic case guards the algebra at a size
    where multi-component structure, singleton self-loops, and several
    star rounds all occur together."""
    import random

    dedup = _cc_cap(monkeypatch, cap)
    rng = random.Random(7)
    edges = [(rng.randint(0, 400), rng.randint(0, 400)) for _ in range(300)]
    pairs = spark.createDataFrame(edges, "a BIGINT, b BIGINT").coalesce(4)
    got = {
        r.node: r.comp
        for r in dedup.connected_components(pairs, "a", "b").collect()
    }
    assert got == _brute_components(edges)


def test_normalize_epoch_ts_seeded_regimes(spark):
    """normalize_epoch_ts's 4e16 magnitude gate, exercised exactly at and
    around the boundary plus seeded values from both regimes, all in ONE
    Spark job (per-example Spark calls are too slow for hypothesis).
    Contract: |v| <= gate reads as µs, |v| > gate as ns (integer `div`,
    truncation toward zero); within the documented plausible-event-time
    window (~mid-1971 .. year 3237) the µs and ns spellings of the SAME
    instant agree."""
    import random
    from datetime import datetime, timezone

    from aws_etl_microservice_redshift_datalake_spark.sources.io import (
        normalize_epoch_ts,
    )

    gate = 40_000_000_000_000_000
    rng = random.Random(11)
    vals = [gate - 1, gate, gate + 1, gate + 999, gate + 1000, gate + 1001,
            0, 1, -gate - 1000, 1_700_000_000_000_000]
    vals += [rng.randint(gate // 1000 + 1, gate - 1) for _ in range(50)]  # µs regime
    vals += [rng.randint(gate + 1, 9 * 10**18) for _ in range(50)]        # ns regime
    df = spark.createDataFrame([(v,) for v in vals], "v BIGINT")
    got = {
        r.v: r.ts
        for r in df.select("v", normalize_epoch_ts("v").alias("ts")).collect()
    }
    for v in vals:
        us = v if abs(v) <= gate else (v // 1000 if v > 0 else -((-v) // 1000))
        want = datetime.fromtimestamp(us / 1_000_000, tz=timezone.utc)
        g = got[v]
        got_utc = (g.replace(tzinfo=timezone.utc) if g.tzinfo is None
                   else g.astimezone(timezone.utc))
        assert abs((got_utc - want).total_seconds()) < 0.002, (v, g, want)
    # same-instant agreement across the two regimes (ns spelling must stay
    # inside int64, so µs probes top out at int64_max/1000)
    probes = [gate // 1000 + 1, 1_700_000_000_000_000, 9_000_000_000_000_000]
    df2 = spark.createDataFrame([(us, us * 1000) for us in probes],
                                "us BIGINT, ns BIGINT")
    for r in df2.select(normalize_epoch_ts("us").alias("a"),
                        normalize_epoch_ts("ns").alias("b")).collect():
        assert r.a == r.b


def test_connected_components_warns_when_rounds_exhausted(spark, monkeypatch):
    """Exhausting CC_MAX_ROUNDS without a fixpoint must warn loudly
    (ADVICE r4: silent return handed callers plausible-looking wrong
    components), while the min-guard still emits one label per node."""
    import warnings

    from aws_etl_microservice_redshift_datalake_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 0)
    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)  # star loop
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "a BIGINT, b BIGINT")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r.node: r.comp
            for r in dedup.connected_components(pairs, "a", "b").collect()
        }
    assert any(
        issubclass(w.category, RuntimeWarning) and "no fixpoint" in str(w.message)
        for w in caught
    )
    assert set(got) == {0, 1, 2}  # one label per node even unconverged


@full_sweeps_only
def test_connected_components_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """With a checkpoint dir set on the SparkContext the star loop keeps
    its round state in fault-tolerant checkpoint() files there (the path
    that survives a lost executor) and labels exactly as the
    localCheckpoint() run without one. The driver cap is 0, so the star
    loop runs."""
    from unittest import mock

    from aws_etl_microservice_redshift_datalake_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    sc = spark.sparkContext
    edges = [(i, i + 1) for i in range(40)] + [(100, 101), (101, 102)]
    pairs = spark.createDataFrame(edges, "a BIGINT, b BIGINT").coalesce(4)

    def labels():
        return {
            r.node: r.comp
            for r in dedup.connected_components(pairs, "a", "b").collect()
        }

    ckpt = tmp_path / "cc-ckpt"
    prev = sc.getCheckpointDir()
    sc.setCheckpointDir(str(ckpt))
    try:
        with mock.patch.object(type(sc), "getCheckpointDir", return_value=None):
            local = labels()
        assert not [p for p in ckpt.rglob("*") if p.is_file()]
        reliable = labels()
        assert [p for p in ckpt.rglob("*") if p.is_file()]
    finally:
        # the checkpoint dir lives on the shared SparkContext: put the
        # previous setting back so later star-loop runs are unaffected
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(prev))
    assert reliable == local
    assert reliable[40] == 0 and reliable[102] == 100


# µs instants whose ns encoding (a) exceeds the 4e16 magnitude gate and
# (b) still fits int64: the unambiguous band where BOTH encodings of one
# instant must decode identically. 4e13 µs ≈ mid-1971; 9.2e15 µs ≈ 2261
# (the int64-ns Unix limit).
_us_band = st.integers(40_000_000_000_001, 9_200_000_000_000_000)


@given(us=st.lists(_us_band, min_size=1, max_size=20))
@settings(**_SETTINGS)
@full_sweeps_only
def test_normalize_epoch_ts_dual_encoding_agrees(spark, us):
    """normalize_epoch_ts property (VERDICT r5 #7): for any instant in the
    unambiguous band, the µs encoding and the ns encoding (×1000) of the
    SAME instant decode to the same timestamp — checked inside Spark so no
    session-tz rendering enters the comparison."""
    from aws_etl_microservice_redshift_datalake_spark.sources.io import (
        normalize_epoch_ts,
    )

    df = spark.createDataFrame(
        [(v, v * 1000) for v in us], "as_us LONG, as_ns LONG"
    )
    bad = df.filter(
        normalize_epoch_ts("as_us") != normalize_epoch_ts("as_ns")
    ).count()
    assert bad == 0


def test_normalize_epoch_ts_gate_boundary(spark):
    """The 4e16 gate itself: 4e16 exactly is µs (year 3237 — abs() is NOT
    greater than the gate), 4e16 + 1 is ns (÷1000), and the negative mirror
    behaves symmetrically. Pinned against timestamp_micros ground truth so
    a future rewrite of the CASE expression can't move the boundary."""
    from pyspark.sql import functions as F

    from aws_etl_microservice_redshift_datalake_spark.sources.io import (
        normalize_epoch_ts,
    )

    gate = 40_000_000_000_000_000
    cases = [  # (raw long, expected µs after normalization)
        (gate, gate),                    # at the gate: passes through as µs
        (gate + 1, (gate + 1) // 1000),  # just past: ns, integer-divided
        (-gate, -gate),                  # negative mirror of the gate
        # negative just-past-gate: Spark's `div` truncates toward zero
        # (unlike Python's floor //), hence int(a/b) semantics here
        (-gate - 1, int((-gate - 1) / 1000)),
        (1_500_000_000_000_000, 1_500_000_000_000_000),  # 2017 in µs: µs
    ]
    df = spark.createDataFrame(cases, "raw LONG, want_us LONG")
    bad = df.filter(
        normalize_epoch_ts("raw") != F.timestamp_micros("want_us")
    ).count()
    assert bad == 0


# small alphabet + short docs → duplicated k-grams are common, and so are
# the nasty shapes: overlapping self-repeats, runs touching doc boundaries,
# docs shorter than k, adjacent islands exactly k apart
_substr_docs = st.lists(
    st.lists(st.sampled_from(["x", "y", "z"]), min_size=0, max_size=25),
    min_size=0,
    max_size=8,
)


def _brute_substring_spans(docs, k):
    """Reference: flag every position whose k-gram occurs >= 2 times in the
    whole corpus (any doc, any position), merge flagged positions closer
    than or exactly k apart into maximal spans."""
    from collections import Counter

    grams = Counter()
    for toks in docs:
        for p in range(len(toks) - k + 1):
            grams[tuple(toks[p : p + k])] += 1
    out = set()
    for doc_id, toks in enumerate(docs):
        flagged = [
            p + 1
            for p in range(len(toks) - k + 1)
            if grams[tuple(toks[p : p + k])] >= 2
        ]
        run = []
        for p in flagged + [None]:
            if p is not None and (not run or p - run[-1] <= k):
                run.append(p)
                continue
            if run:
                out.add((doc_id, run[0], run[-1] + k - 1, run[-1] + k - run[0]))
            run = [p] if p is not None else []
    return out


@given(docs=_substr_docs, k=st.integers(min_value=2, max_value=5))
@settings(**_SETTINGS)
@full_sweeps_only
def test_exact_substring_spans_matches_bruteforce(spark, docs, k):
    """exact_substring_spans vs a brute-force Python reference on random
    tiny-alphabet corpora (duplicated runs everywhere): identical span sets,
    including overlapping self-repeats and islands exactly k apart. k is
    RANDOMIZED (VERDICT r6 #6): the run-merge's `<= k` island rule and the
    `+ (k-1)` end arithmetic must hold at every shingle width, not just the
    production SUBSTR_K."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        exact_substring_spans,
    )

    df = spark.createDataFrame(
        [(i, " ".join(toks) if toks else None) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.start_tok, r.end_tok, r.n_tokens)
        for r in exact_substring_spans(df, k=k).collect()
    }
    # None text stands in for an empty doc on the Spark side (dropped); the
    # reference must drop empties the same way — split(None) has no grams
    # anyway, so both see zero positions for them
    assert got == _brute_substring_spans(docs, k)


def _brute_apply_spans(docs, k):
    """Reference surgery: drop every token covered by some duplicated span."""
    covered: dict[int, set[int]] = {}
    for doc_id, s, e, _n in _brute_substring_spans(docs, k):
        covered.setdefault(doc_id, set()).update(range(s, e + 1))
    out = {}
    for doc_id, toks in enumerate(docs):
        if not toks:
            continue  # empty -> None text -> dropped on the Spark side
        cov = covered.get(doc_id, set())
        kt = [t for p, t in enumerate(toks, start=1) if p not in cov]
        out[doc_id] = (" ".join(kt), len(kt), len(toks) - len(kt))
    return out


@given(docs=_substr_docs, k=st.integers(min_value=2, max_value=5))
@settings(**_SETTINGS)
@full_sweeps_only
def test_apply_substring_spans_matches_bruteforce(spark, docs, k):
    """apply_substring_spans (the cleaned-corpus surgery) vs a brute-force
    reference at randomized k: every covered token removed, every other
    token kept in order, counts exact — including whole-doc removal and
    overlapping spans."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        apply_substring_spans,
    )

    df = spark.createDataFrame(
        [(i, " ".join(toks) if toks else None) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.clean_text, r.n_kept, r.n_removed)
        for r in apply_substring_spans(df, k=k).collect()
    }
    assert got == _brute_apply_spans(docs, k)


# short strings over a tiny alphabet (plus multibyte chars to stress the
# UTF8 DP path) so distances 0..4 and the -1 sentinel are all common
_lev_strings = st.text(alphabet="ab✓💡", min_size=0, max_size=6)
_lev_pairs = st.lists(
    st.tuples(_lev_strings, _lev_strings), min_size=1, max_size=20
)


def _brute_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, start=1):
        cur = [i]
        for j, cb in enumerate(b, start=1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@given(pairs=_lev_pairs, thr=st.integers(min_value=0, max_value=3))
@settings(**_SETTINGS)
@full_sweeps_only
def test_threshold_levenshtein_sentinel_semantics(spark, pairs, thr):
    """The banded THRESHOLD levenshtein the fuzzy join verifies with
    (r7 dimension-strings fix) vs a brute-force full DP: the threshold
    form must return the EXACT distance whenever it is <= thr and the -1
    sentinel otherwise — so `BETWEEN 0 AND thr` selects precisely the
    plain form's `<= thr` rows with identical distances. A Spark upgrade
    that changed the sentinel (NULL? threshold+1?) would silently break
    the fuzzy join's kept-pair contract; this pins it."""
    df = spark.createDataFrame(pairs, "a string, b string")
    got = df.select(
        "a", "b", F.levenshtein("a", "b", thr).alias("d")
    ).collect()
    for r in got:
        exact = _brute_levenshtein(r.a, r.b)
        expect = exact if exact <= thr else -1
        assert r.d == expect, (r.a, r.b, thr, r.d, exact)


# --------------------------------------------------------------------------
# Helper-level twin properties: exact_sum/o_exact_sum and dec/o_dec are the
# ONE change point protecting every decimal money hop (r7 extreme-money
# hardening verifies them through a single rank-0 consumer; this pins them
# DIRECTLY against DuckDB on randomized money). Domain mirrors the
# contract: on-grid money values (the fixtures' 2-decimal rationals and
# product grids) plus the full non-conforming spectrum — ±1e308, ±Inf,
# NaN, NULL, and the exact MONEY_MAX boundary from both sides.
# --------------------------------------------------------------------------

_money_extremes = [
    1e308, -1e308, float("inf"), float("-inf"), float("nan"), None,
    1.0e15, -1.0e15,            # exactly MONEY_MAX: conforming in BOTH
    1.0000000000000002e15,      # next double up: non-conforming in BOTH
]

# the SUM property must stay inside the documented bit-identity boundary
# (exact_sum docstring: DuckDB's DECIMAL→DOUBLE cast double-rounds once the
# scaled sum exceeds 2^53 — THIS TEST found that boundary), so conforming
# magnitudes cap at 10^7 and the MONEY_MAX boundary is exercised from the
# non-conforming side plus the exact-integer case below
_sum_extremes = [
    1e308, -1e308, float("inf"), float("-inf"), float("nan"), None,
    1.0000000000000002e15, -1.0000000000000002e15,
]


def _money_vals(grid: int):
    """Values ON the 10^-grid grid (the helper contract: a product of
    2-decimal rationals lives on a 4- or 6-grid; off-grid .xx5 midpoints
    are explicitly OUT of contract — both docstrings) plus the
    non-conforming spectrum."""
    return st.lists(
        st.one_of(
            st.integers(-10**9, 10**9).map(lambda c, g=grid: c / 10**g),
            st.sampled_from(_money_extremes),
        ),
        min_size=0,
        max_size=12,
    )


def _sum_vals(grid: int):
    return st.lists(
        st.one_of(
            st.integers(-10**9, 10**9).map(lambda c, g=grid: c / 10**g),
            st.sampled_from(_sum_extremes),
        ),
        min_size=0,
        max_size=12,
    )


_sum_cases = st.sampled_from([2, 4, 6]).flatmap(
    lambda g: st.tuples(st.just(g), _sum_vals(g))
)


def _duck_literal(v) -> str:
    if v is None:
        return "CAST(NULL AS DOUBLE)"
    if v != v:
        return "'NaN'::DOUBLE"
    if v == float("inf"):
        return "'Infinity'::DOUBLE"
    if v == float("-inf"):
        return "'-Infinity'::DOUBLE"
    return f"CAST({v!r} AS DOUBLE)"


def _duck_from(vals) -> str:
    if not vals:
        return "FROM (VALUES (CAST(0 AS DOUBLE))) t(x) WHERE FALSE"
    rows = ", ".join(f"({_duck_literal(v)})" for v in vals)
    return f"FROM (VALUES {rows}) t(x)"


def _duck_from_indexed(vals) -> str:
    """VALUES rows carrying an EXPLICIT index column — per-row twin
    compares must select this, never ROW_NUMBER() OVER () (SQL guarantees
    no scan order for an unordered OVER (); a DuckDB upgrade or parallel
    VALUES scan could silently pair the wrong rows — ADVICE r7)."""
    if not vals:
        return "FROM (VALUES (0, CAST(0 AS DOUBLE))) t(i, x) WHERE FALSE"
    rows = ", ".join(f"({i}, {_duck_literal(v)})" for i, v in enumerate(vals))
    return f"FROM (VALUES {rows}) t(i, x)"


@given(case=_sum_cases)
@settings(**_SETTINGS)
@full_sweeps_only
def test_exact_sum_twin_property(spark, duck, case):
    """registry.exact_sum(x) on Spark must equal o_exact_sum('x') on DuckDB
    for ANY mix of on-grid money and non-conforming garbage — bit-identical
    DOUBLE or both NULL (the whole float-hash discipline rests on this)."""
    from aws_etl_microservice_redshift_datalake_spark.registry import (
        exact_sum, o_exact_sum,
    )

    grid, vals = case
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.agg(exact_sum(F.col("x"), grid).alias("s")).collect()[0].s
    want = duck.execute(
        f"SELECT {o_exact_sum('x', grid)} AS s {_duck_from(vals)}"
    ).fetchone()[0]
    assert got == want or (got is None and want is None), (vals, grid, got, want)


@given(vals=_money_vals(2))
@settings(**_SETTINGS)
@full_sweeps_only
def test_dec_twin_property(spark, duck, vals):
    """registry.dec(x) per row must equal o_dec('x') per row on DuckDB —
    equal DECIMAL or both NULL, for conforming and garbage money alike."""
    from aws_etl_microservice_redshift_datalake_spark.registry import dec, o_dec

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, x double"
    )
    got = {
        r.i: r.d for r in df.select("i", dec(F.col("x")).alias("d")).collect()
    }
    sql = f"SELECT i, {o_dec('x')} AS d {_duck_from_indexed(vals)}"
    want = {int(i): d for i, d in duck.execute(sql).fetchall()}
    assert len(got) == len(want) == len(vals)
    for i, v in enumerate(vals):
        g, w = got[i], want[i]
        assert g == w or (g is None and w is None), (i, v, g, w)


def test_exact_sum_twin_money_max_boundary(spark, duck):
    """The conforming side of the MONEY_MAX boundary, deterministically:
    ±1e15 are exact integers whose scaled decimals (1e17) ARE exactly
    representable doubles, so both engines agree there — the property
    test keeps such magnitudes out of its random mix because FRACTIONAL
    sums that large cross the documented 2^53 scaled-cast boundary."""
    from aws_etl_microservice_redshift_datalake_spark.registry import (
        exact_sum, o_exact_sum,
    )

    for vals in ([1.0e15], [-1.0e15], [1.0e15, -1.0e15], [1.0e15, 1e308]):
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        got = df.agg(exact_sum(F.col("x"), 2).alias("s")).collect()[0].s
        want = duck.execute(
            f"SELECT {o_exact_sum('x', 2)} AS s {_duck_from(vals)}"
        ).fetchone()[0]
        assert got == want, (vals, got, want)


@given(
    cents=st.lists(st.integers(-10**9, 10**9), min_size=1, max_size=15),
    ulps=st.lists(st.integers(-3, 3), min_size=1, max_size=15),
    scale=st.sampled_from([0, 1, 2, 4]),
)
@settings(**_SETTINGS)
def test_rnd_twin_property(spark, duck, cents, ulps, scale):
    """registry.rnd's whole premise — 'both engines' round(x, s) return the
    double nearest to k/10^s' — checked directly: an on-grid money double
    perturbed by a few ULPs (exactly the addition-order noise rnd exists
    to kill) must round to the SAME double in Spark and DuckDB, and
    NaN/±Inf must pass through identically (rnd is deliberately
    unguarded)."""
    import math

    def nudge(v: float, u: int) -> float:
        for _ in range(abs(u)):
            v = math.nextafter(v, math.copysign(float("inf"), u))
        return v

    vals = [nudge(c / 10**scale, u) for c, u in zip(cents, ulps)] + [
        float("nan"), float("inf"), float("-inf"), 1e308,
    ]
    from aws_etl_microservice_redshift_datalake_spark.registry import rnd

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, x double"
    )
    got = {
        r.i: r.v
        for r in df.select("i", rnd(F.col("x"), scale).alias("v")).collect()
    }
    sql = f"SELECT i, ROUND(x, {scale}) AS v {_duck_from_indexed(vals)}"
    want = {int(i): v for i, v in duck.execute(sql).fetchall()}
    assert len(got) == len(want)
    for i in got:
        g, w = got[i], want[i]
        same = g == w or (g != g and w != w)  # NaN == NaN for this check
        assert same, (i, vals[i], g, w)


@given(vals=_money_vals(2))
@settings(**_SETTINGS)
@full_sweeps_only
def test_money_col_sum_twin_property(spark, duck, vals):
    """The r8 conformance-guard pair: ROUND(SUM(money_col(x)), 2) on Spark
    must equal ROUND(SUM(o_money_col('x')), 2) on DuckDB for ANY mix of
    on-grid money and the non-conforming spectrum (NaN/±Inf/±1e308/NULL) —
    equal double, or both NULL when nothing conforms. This is the guard the
    r8 composed-corpus gate forced onto every raw money/value SUM: without
    it a finite-absurd sentinel cancels fold-order-dependently (the class
    no single-axis corpus arranged)."""
    from aws_etl_microservice_redshift_datalake_spark.registry import (
        money_col, o_money_col,
    )

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got_row = df.agg(
        F.round(F.sum(money_col(F.col("x"))), 2).alias("s")
    ).collect()[0]
    want = duck.execute(
        f"SELECT ROUND(SUM({o_money_col('x')}), 2) AS s {_duck_from(vals)}"
    ).fetchone()[0]
    got = got_row.s
    assert got == want or (got is None and want is None), (vals, got, want)


@given(
    qtys=st.lists(
        st.one_of(
            st.integers(-10**9, 10**9).map(float),  # integral (the contract)
            st.sampled_from(_money_extremes),
        ),
        min_size=0,
        max_size=12,
    )
)
@settings(**_SETTINGS)
@full_sweeps_only
def test_guarded_bigint_twin_property(spark, duck, qtys):
    """guarded_bigint(x) per row must equal o_guarded_bigint('x') on DuckDB
    for INTEGRAL-valued doubles (the FIXTURES quantity contract — Spark's
    double→bigint cast truncates where DuckDB's rounds, so fractional
    inputs are out of contract BY DESIGN) plus the non-conforming spectrum,
    which must null identically instead of an ANSI CAST_OVERFLOW throw."""
    from aws_etl_microservice_redshift_datalake_spark.registry import (
        guarded_bigint, o_guarded_bigint,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(qtys)], "i long, x double"
    )
    got = {
        r.i: r.q
        for r in df.select("i", guarded_bigint(F.col("x")).alias("q")).collect()
    }
    sql = f"SELECT i, {o_guarded_bigint('x')} AS q {_duck_from_indexed(qtys)}"
    want = {int(i): q for i, q in duck.execute(sql).fetchall()}
    assert len(got) == len(want) == len(qtys)
    for i in got:
        g, w = got[i], want[i]
        assert g == w or (g is None and w is None), (i, qtys[i], g, w)


def test_md5_bucket_twins_agree_with_hashlib(spark, duck):
    """md5_bucket (Spark) and o_md5_bucket (DuckDB) — the portable hash
    behind every sampling, split and decontamination query — must give the
    hashlib value (first 6 hex digits of md5 over the decimal or UTF-8
    text) on BIGINT ids (zero, negative, both extremes) and on strings
    (empty, non-ASCII), and NULL for NULL on both engines."""
    import hashlib

    from aws_etl_microservice_redshift_datalake_spark.registry import (
        md5_bucket, o_md5_bucket,
    )

    cases = [
        ("long", "BIGINT", [0, 7, -1, -(2**63), 2**63 - 1, 10**15 + 3, None]),
        ("string", "VARCHAR", ["", "é", "中文テキスト", "🙂 emoji", "naïve café",
                               None]),
    ]
    for spark_type, duck_type, vals in cases:
        want = {
            i: None if v is None
            else int(hashlib.md5(str(v).encode()).hexdigest()[:6], 16)
            for i, v in enumerate(vals)
        }
        df = spark.createDataFrame(list(enumerate(vals)), f"i long, x {spark_type}")
        got = {
            r.i: r.b
            for r in df.select("i", md5_bucket(F.col("x")).alias("b")).collect()
        }
        lits = ", ".join(
            f"({i}, CAST({'NULL' if v is None else repr(v)} AS {duck_type}))"
            for i, v in enumerate(vals)
        )
        sql = f"SELECT i, {o_md5_bucket('x')} AS b FROM (VALUES {lits}) t(i, x)"
        duck_got = {int(i): b for i, b in duck.execute(sql).fetchall()}
        assert got == want, (spark_type, got, want)
        assert duck_got == want, (duck_type, duck_got, want)


# --------------------------------------------------------------------------
# r9 vector-conformance twin (ADVICE r8 #2): _finite_vec vs O_VEC_CONFORM
# --------------------------------------------------------------------------

def _duck_float_literal(v) -> str:
    if v is None:
        return "CAST(NULL AS FLOAT)"
    if v != v:
        return "'NaN'::FLOAT"
    if v == float("inf"):
        return "'Infinity'::FLOAT"
    if v == float("-inf"):
        return "'-Infinity'::FLOAT"
    return f"CAST({v!r} AS FLOAT)"


_vec_element = st.one_of(
    st.floats(-1.0, 1.0, allow_nan=False, allow_infinity=False),  # real scale
    st.sampled_from([
        None,
        float("nan"),
        float("inf"),
        float("-inf"),
        1e6,            # exactly ON the bound — conforming
        -1e6,
        1000000.0625,   # the next float32 ABOVE the bound — non-conforming
        -1000000.0625,
        3.0e38,         # float32-extreme finite-absurd
        -3.0e38,
        0.0,
    ]),
)


@given(
    vec=st.lists(_vec_element, min_size=64, max_size=64),
    width=st.sampled_from([63, 64]),
)
@settings(**_SETTINGS)
@full_sweeps_only
def test_vec_conform_twin_property(spark, duck, vec, width):
    """_finite_vec(embedding) on Spark must agree with O_VEC_CONFORM on
    DuckDB for ANY element mix — real-scale floats, NULL, NaN, ±Inf, the
    exact VEC_ABS_MAX boundary (conforming), one float32 ulp above it
    (non-conforming), and the float32-extreme finite-absurd ±3e38 (the
    agreeing-garbage class the r9 magnitude bound excludes) — at both the
    declared width and a truncated one. Elements run as FLOAT on both
    sides, exactly the production storage type."""
    from aws_etl_microservice_redshift_datalake_spark.operators.vectors import (
        O_VEC_CONFORM, _finite_vec,
    )

    vec = vec[:width]
    df = spark.createDataFrame([(vec,)], "embedding array<float>")
    got = df.select(_finite_vec(F.col("embedding")).alias("ok")).collect()[0].ok
    lits = ", ".join(_duck_float_literal(v) for v in vec)
    want = duck.execute(
        f"SELECT {O_VEC_CONFORM} AS ok"
        f" FROM (SELECT [{lits}]::FLOAT[] AS embedding) t"
    ).fetchone()[0]
    assert bool(got) == bool(want), (vec, got, want)


@given(
    vec=st.lists(_vec_element, min_size=64, max_size=64),
)
@settings(**_SETTINGS)
@full_sweeps_only
def test_pandas_finite_absurd_twin_property(spark, duck, vec):
    """The pandas twins' NARROWER exclusion (r9): _has_finite_absurd on
    Spark must agree with _O_NO_FINITE_ABSURD's filter on DuckDB for any
    element mix. Unlike the full conformance predicate, NaN/±Inf elements
    must NOT trip it (they keep the U2/U3 NaN→NULL rendering mirror) —
    only a present, non-NaN, non-Inf element beyond VEC_ABS_MAX may.
    Guards the mirror-vs-exclusion boundary the corpus pins exercise at
    only a few planted shapes."""
    from aws_etl_microservice_redshift_datalake_spark.operators.udfs import (
        _O_NO_FINITE_ABSURD, _has_finite_absurd,
    )

    df = spark.createDataFrame([(vec,)], "embedding array<float>")
    got = (
        df.select(_has_finite_absurd(F.col("embedding")).alias("bad"))
        .collect()[0].bad
    )
    lits = ", ".join(_duck_float_literal(v) for v in vec)
    # the oracle spelling is "no finite-absurd element present" — negate
    want_ok = duck.execute(
        f"SELECT {_O_NO_FINITE_ABSURD} AS ok"
        f" FROM (SELECT [{lits}]::FLOAT[] AS embedding) t"
    ).fetchone()[0]
    assert bool(got) == (not want_ok), (vec, got, want_ok)


_nchars_extremes = [
    None, -1, 0, 1, (1 << 40), (1 << 40) + 1, (1 << 63) - 1, -(1 << 63),
]


@given(
    vals=st.lists(
        st.one_of(
            st.integers(0, 10**6),
            st.sampled_from(_nchars_extremes),
        ),
        min_size=0,
        max_size=12,
    )
)
@settings(**_SETTINGS)
@full_sweeps_only
def test_nchars_guard_sum_twin_property(spark, duck, vals):
    """The document-stats conformance guard (registry.N_CHARS_MAX, r7
    stats axis): SUM over `CASE WHEN x BETWEEN 0 AND 2^40` must agree
    across engines for any int64 mix including the overflow sentinels —
    one Long.MAX row THROWS Spark's ANSI SUM(bigint) while DuckDB's
    int128 SUM sails past it, so only the shared BETWEEN population keeps
    the twins identical (and the exact 2^40 boundary stays IN, 2^40+1
    OUT, in both). Same bar the money/quantity helpers carry."""
    from aws_etl_microservice_redshift_datalake_spark.registry import N_CHARS_MAX

    df = spark.createDataFrame([(v,) for v in vals], "x long")
    guarded = F.when(
        (F.col("x") >= 0) & (F.col("x") <= N_CHARS_MAX), F.col("x")
    )
    got = df.agg(F.sum(guarded).alias("s")).collect()[0].s
    rows = ", ".join(
        f"({'CAST(NULL AS BIGINT)' if v is None else v})" for v in vals
    ) or "(CAST(NULL AS BIGINT))"
    where = "" if vals else " WHERE FALSE"
    want = duck.execute(
        f"SELECT CAST(SUM(CASE WHEN x BETWEEN 0 AND {N_CHARS_MAX} THEN x END)"
        f" AS BIGINT) AS s FROM (VALUES {rows}) t(x){where}"
    ).fetchone()[0]
    assert got == want or (got is None and want is None), (vals, got, want)


_winnow_docs = st.lists(
    # tiny vocab so grams collide across docs (the df-cap path triggers);
    # lengths straddle every contract boundary: <k (no grams), k..k+w-2
    # (grams but no window), >= k+w-1 (full winnowing)
    st.lists(st.integers(0, 5), min_size=0, max_size=14),
    min_size=0,
    max_size=10,
)


def _brute_winnow(docs, k, w, dfmax):
    """Reference winnowing (Schleimer et al. '03): md5 gram hashes, min per
    sliding window (lexicographic over lowercase hex = the engines' string
    order), distinct selected set per doc, partner = shares a fingerprint
    whose document frequency is in [2, dfmax]."""
    import hashlib

    prof, owners = {}, {}
    for doc_id, toks in docs:
        grams = (
            [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
            if len(toks) >= k else []
        )
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        sel = (
            {min(hs[p:p + w]) for p in range(len(hs) - w + 1)}
            if len(hs) >= w else set()
        )
        prof[doc_id] = (len(hs), len(sel))
        for f in sel:
            owners.setdefault(f, set()).add(doc_id)
    partners = {d: set() for d in prof}
    for f, ds in owners.items():
        if 2 <= len(ds) <= dfmax:
            for a in ds:
                partners[a] |= ds - {a}
    return {
        d: (g, s, len(partners[d])) for d, (g, s) in prof.items()
    }


@given(docs=_winnow_docs)
@settings(**_SETTINGS)
@full_sweeps_only
def test_winnow_report_matches_bruteforce(spark, docs):
    """q_winnow_fingerprint's whole pipeline (gram md5 → window min →
    distinct selection → df-capped partner count) must equal a
    third-opinion Python reference on random corpora — including the
    short-doc (no grams / no window) and empty-corpus boundaries the
    planted test can't sweep."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        WINNOW_DF_MAX,
        WINNOW_K,
        WINNOW_W,
        winnow_report,
    )
    from pyspark.sql import functions as F

    named = [(i, [f"w{t}" for t in toks]) for i, toks in enumerate(docs)]
    rows = [(i, " ".join(toks)) for i, toks in named]
    d = spark.createDataFrame(
        rows or [(None, None)], "doc_id long, text string"
    ).filter(F.col("doc_id").isNotNull())
    got = {
        r.doc_id: (r.n_grams, r.n_fp, r.n_partners)
        for r in winnow_report(d).collect()
    }
    want = _brute_winnow(named, WINNOW_K, WINNOW_W, WINNOW_DF_MAX)
    assert got == want


_setsim_docs = st.lists(
    # tiny vocab + short docs: shingles collide across docs constantly, so
    # mid-range Jaccards (the regime where a WRONG prefix length silently
    # drops pairs) are common
    st.lists(st.integers(0, 4), min_size=1, max_size=8),
    min_size=0,
    max_size=10,
)


@given(docs=_setsim_docs, tau=st.sampled_from([0.3, 0.5, 0.7, 0.9]))
@settings(**_SETTINGS)
@full_sweeps_only
def test_setsim_prefix_filter_lossless(spark, docs, tau):
    """The AllPairs prefix filter must be LOSSLESS: q_setsim_join's
    library form equals brute-force all-pairs exact Jaccard on random
    set corpora at several thresholds — the direct certificate of the
    prefix-length theorem (n − ceil(τ·n) + 1) that the DuckDB oracle
    re-proves only on the fixture corpus."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        setsim_join_sets,
    )
    from pyspark.sql import functions as F

    # shingle sets the same way the query does (3-gram strings, whole-doc
    # fallback), then intern strings to ints — the filter is hash-agnostic
    def shingles(toks):
        ts = [f"w{t}" for t in toks]
        if len(ts) >= 3:
            return {" ".join(ts[i:i + 3]) for i in range(len(ts) - 2)}
        return {" ".join(ts)}

    interned: dict[str, int] = {}
    sets = []
    for i, toks in enumerate(docs):
        ids = {interned.setdefault(s, len(interned)) for s in shingles(toks)}
        sets.append((i, sorted(ids)))
    d = spark.createDataFrame(
        sets or [(None, None)], "doc_id long, sh array<long>"
    ).filter(F.col("doc_id").isNotNull())
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in setsim_join_sets(d, tau).collect()
    }
    want = {}
    for a in range(len(sets)):
        for b in range(a + 1, len(sets)):
            sa, sb = set(sets[a][1]), set(sets[b][1])
            i = len(sa & sb)
            j = i / (len(sa) + len(sb) - i)
            if j >= tau:
                want[(a, b)] = j
    assert got.keys() == want.keys()
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-15


def test_setsim_exact_threshold_boundary_pair_kept(spark):
    """A pair sitting EXACTLY at J = τ with overlap exactly at the
    required-overlap integer boundary must be reported — the positional
    filter's ceil arithmetic may not lose it to float rounding (the
    1e-9 slack before the ceil in dedup.py pins exactly this)."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        setsim_join_sets,
    )

    cases = [
        # (tau, set_a, set_b): J exactly τ with t exactly hit
        (0.5, [1, 2, 3], [2, 3, 4]),                 # i=2, J=2/4=0.5, t=2
        (0.3, [1, 2, 3, 4, 5, 6],
              [4, 5, 6, 7, 8, 9, 10]),               # i=3, J=3/10=0.3, t=3
    ]
    for tau, set_a, set_b in cases:
        d = spark.createDataFrame(
            [(0, sorted(set_a)), (1, sorted(set_b))],
            "doc_id long, sh array<long>",
        )
        rows = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in setsim_join_sets(d, tau).collect()
        }
        assert (0, 1) in rows, f"boundary pair lost at tau={tau}"
        i = len(set(set_a) & set(set_b))
        assert rows[(0, 1)] == i / (len(set(set_a)) + len(set(set_b)) - i)


# ---------------------------------------------------------------------------
# BM25 (q_bm25_search's library form) vs a brute-force Python scorer
# ---------------------------------------------------------------------------

# Tiny vocab so term hits / df collisions / repeated tokens are common —
# saturation and length-norm only bite when tf > 1 and dl varies. None =
# NULL text (must drop from avgdl and from every hit test).
_bm25_docs = st.lists(
    st.one_of(
        st.none(),
        st.lists(st.sampled_from(["a", "b", "x", "y"]), max_size=15),
    ),
    max_size=12,
)


def _brute_bm25(docs, terms, k1, b):
    """Reference BM25 replicating bm25_rank's exact arithmetic: Lucene idf,
    left-assoc IEEE double chains, each term rounded HALF_UP on the 1e-6
    grid (Spark ROUND on DOUBLE = BigDecimal.valueOf(x).setScale(6,
    HALF_UP), i.e. quantize of the shortest-repr decimal — Python's
    Decimal(repr(x)) is the same text), exact Decimal sum in term order."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    toks = [None if t is None else t.split(" ") for t in docs]
    n_docs = len(docs)
    lens = [len(t) for t in toks if t is not None]
    avgdl = float(sum(lens)) / float(len(lens)) if lens else None
    dfs = {
        t: sum(1 for tk in toks if tk is not None and t in tk) for t in terms
    }
    out = []
    for i, tk in enumerate(toks):
        if tk is None or not any(t in tk for t in terms):
            continue
        dl = float(len(tk))
        score = Decimal(0)
        for t in terms:
            tf = float(tk.count(t))
            idf = math.log(
                1.0 + ((float(n_docs) - dfs[t]) + 0.5) / (dfs[t] + 0.5)
            )
            raw = (idf * (tf * (k1 + 1.0))) / (
                tf + k1 * ((1.0 - b) + b * (dl / avgdl))
            )
            score += Decimal(repr(raw)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        out.append((i, float(score)))
    out.sort(key=lambda r: (-r[1], r[0]))
    return out


@given(
    docs=_bm25_docs,
    k1=st.sampled_from([1.2, 0.9, 2.0]),
    b=st.sampled_from([0.75, 0.0, 0.4, 1.0]),
)
@settings(**_SETTINGS)
@full_sweeps_only
def test_bm25_matches_bruteforce(spark, docs, k1, b):
    """bm25_rank must equal a brute-force Python BM25 on random corpora at
    RANDOMIZED k1/b (incl. b=0 length-norm off and b=1 full norm) — the
    property twin VERDICT r10 queued for the one r10 operator whose
    arithmetic was pinned by a single planted case. Hit sets are exact;
    scores allow one 1e-6 grid step per term (JVM vs libm ln may differ by
    an ulp that lands on a rounding boundary — the documented oracle
    caveat); the returned ordering must be (score desc, doc_id asc) over
    the engine's own scores."""
    from aws_etl_microservice_redshift_datalake_spark.operators.text import bm25_rank

    terms = ("a", "b")
    rows = [
        (i, "en", None if d is None else " ".join(d))
        for i, d in enumerate(docs)
    ]
    df = spark.createDataFrame(
        rows or [(None, None, None)], "doc_id long, lang string, text string"
    ).filter(F.col("doc_id").isNotNull())
    got = [
        (r.doc_id, r.score)
        for r in bm25_rank(df, terms, k1=k1, b=b, topk=1000).collect()
    ]
    want = _brute_bm25(
        [None if d is None else " ".join(d) for d in docs], terms, k1, b
    )
    assert {g[0] for g in got} == {w[0] for w in want}
    wmap = dict(want)
    tol = 1e-6 * len(terms) + 1e-12
    for doc_id, score in got:
        assert abs(score - wmap[doc_id]) <= tol, (doc_id, score, wmap[doc_id])
    assert got == sorted(got, key=lambda r: (-r[1], r[0]))


def test_bm25_default_params_are_the_registered_query(spark):
    """bm25_rank with the default k1/b on a tiny corpus must produce the
    EXACT score the _BM25_* literal arithmetic implies — pins that the
    parameterized refactor did not drift the registered query's values
    (k1+1.0 == float('2.2') etc., asserted at the literal derivation)."""
    from aws_etl_microservice_redshift_datalake_spark.operators.text import bm25_rank

    df = spark.createDataFrame(
        [(0, "en", "a a x"), (1, "en", "b x x x")],
        "doc_id long, lang string, text string",
    )
    got = {r.doc_id: r.score for r in bm25_rank(df, ("a", "b")).collect()}
    want = dict(_brute_bm25(["a a x", "b x x x"], ("a", "b"), 1.2, 0.75))
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) <= 2e-6 + 1e-12


# ---------------------------------------------------------------------------
# SimHash Hamming join (Manku et al. '07) vs brute-force Python
# ---------------------------------------------------------------------------


def _brute_simhash(text: str) -> int:
    """Reference 60-bit SimHash replicating simhash_wide exactly: distinct
    tokens, md5 hex digits 1..15, bit b = sign of vote sum on bit (b%4) of
    digit (b//4), strict > 0."""
    import hashlib

    votes = [0] * 60
    for w in set(text.split(" ")):
        h = hashlib.md5(w.encode()).hexdigest()
        for b in range(60):
            d = int(h[b // 4], 16)
            votes[b] += 1 if (d >> (b % 4)) & 1 else -1
    return sum(1 << b for b in range(60) if votes[b] > 0)


# small vocab + short docs so near-identical token sets (small hamming)
# are common — the join is only exercised when pairs actually qualify
_simjoin_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), max_size=6),
    max_size=10,
)


@given(docs=_simjoin_docs, k=st.sampled_from([1, 2, 3, 5]))
@settings(**_SETTINGS)
@full_sweeps_only
def test_simhash_hamming_join_matches_bruteforce(spark, docs, k):
    """simhash_hamming_join must equal brute-force all-pairs Hamming <= k
    on random corpora at several k — the direct certificate of BOTH the
    pigeonhole block filter's losslessness (any pair within k bits shares
    an exact block) and the 60-bit signature arithmetic, at k values the
    fixture oracle (k=3 only) never exercises."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        simhash_hamming_join,
    )

    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(
        rows or [(None, None)], "doc_id long, text string"
    ).filter(F.col("doc_id").isNotNull())
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_hamming_join(df, k).collect()
    }
    sims = [_brute_simhash(t) for _, t in rows]
    want = {}
    for a in range(len(rows)):
        for b in range(a + 1, len(rows)):
            ham = bin(sims[a] ^ sims[b]).count("1")
            if ham <= k:
                want[(a, b)] = ham
    assert got == want


def test_simhash_hamming_join_reports_identical_docs(spark):
    """Byte-identical documents have Hamming distance exactly 0 and MUST be
    reported at every k — the planted floor under the randomized property."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        simhash_hamming_join,
    )

    df = spark.createDataFrame(
        [(0, "x y z"), (1, "x y z"), (2, "totally different words here")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_hamming_join(df, 1).collect()
    }
    assert got.get((0, 1)) == 0


# ---------------------------------------------------------------------------
# EWMA lag chain (q_window_ewma's library form) vs brute-force Python
# ---------------------------------------------------------------------------

_MONEY_MAX = 1e15  # registry.MONEY_MAX, inlined so the reference is explicit

# (event_id implicit by index) rows on tiny user/ts domains so partition
# starts, (ts, event_id) ties, NULL event times, and lag windows spanning
# whole partitions are all common; values include NULLs, the conformance
# boundary, finite-absurd, NaN and Inf — every shape the money guard must
# turn into an exact 0.0 contribution.
_ewma_rows = st.lists(
    st.tuples(
        st.integers(0, 2),  # user_id
        st.one_of(st.none(), st.integers(0, 8)),  # ts (None = NULL event time)
        st.one_of(
            st.none(),
            st.sampled_from(
                [0.0, -1.5, 123.456, 0.1, 1e15, -1e15, 2e15,
                 float("nan"), float("inf")]
            ),
            st.floats(min_value=-1e16, max_value=1e16, allow_nan=False),
        ),
    ),
    max_size=20,
)


def _brute_ewma(rows, alpha, lags):
    """Reference EWMA replicating ewma_chain's exact arithmetic: per user,
    rows sorted by (ts, event_id), NULL-ts rows dropped, each term
    coalesce(conforming x, 0.0) * (alpha*(1-alpha)**j) — the SAME Python
    double weight the chain ships as a literal — summed LEFT-ASSOCIATED in
    j-ascending order. Conforming = non-NULL and -1e15 <= x <= 1e15 (NaN
    and Inf fail the between in both engines)."""
    byuser = {}
    for eid, (uid, ts, v) in enumerate(rows):
        if ts is None:
            continue
        byuser.setdefault(uid, []).append((ts, eid, v))
    out = {}
    for rs in byuser.values():
        rs.sort(key=lambda r: (r[0], r[1]))
        xs = [r[2] for r in rs]
        for i, (_, eid, _v) in enumerate(rs):
            acc = None
            for j in range(lags):
                x = xs[i - j] if i - j >= 0 else None
                ok = x is not None and -_MONEY_MAX <= x <= _MONEY_MAX
                t = (x if ok else 0.0) * (alpha * (1.0 - alpha) ** j)
                acc = t if acc is None else acc + t
            out[eid] = acc
    return out


def _ewma_df(spark, rows):
    data = [(eid, uid, ts, v) for eid, (uid, ts, v) in enumerate(rows)]
    return spark.createDataFrame(
        data or [(None, None, None, None)],
        "event_id long, user_id long, ts long, value double",
    ).filter(F.col("event_id").isNotNull())


@given(rows=_ewma_rows, lags=st.sampled_from([1, 2, 3, 7, 16, 20]))
@settings(**_SETTINGS)
@full_sweeps_only
def test_ewma_chain_bitexact_vs_bruteforce(spark, rows, lags):
    """ewma_chain at the registered alpha = 1/2 must be BIT-IDENTICAL to
    the brute-force Python fold at RANDOMIZED truncation depth (VERDICT
    r11 #4) — no tolerance: the weights are exact powers of two and both
    sides run the same fixed-order IEEE chain, so any difference is an
    order/guard drift, not noise."""
    from aws_etl_microservice_redshift_datalake_spark.operators.windows import (
        ewma_chain,
    )

    got = {
        r.event_id: r.ewma
        for r in ewma_chain(_ewma_df(spark, rows), lags=lags).collect()
    }
    want = _brute_ewma(rows, 0.5, lags)
    assert got.keys() == want.keys()
    for eid in want:
        assert got[eid] == want[eid], (eid, got[eid], want[eid])


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),
            st.integers(0, 8),
            st.floats(min_value=-100.0, max_value=100.0, allow_nan=False),
        ),
        max_size=20,
    ),
    alpha=st.sampled_from([0.3, 0.1, 0.9, 0.05]),
)
@settings(**_SETTINGS)
@full_sweeps_only
def test_ewma_chain_nondyadic_alpha(spark, rows, alpha):
    """At NON-DYADIC alpha the weights are no longer exactly representable,
    so the value-level guarantee degrades from bit-exact-vs-math to
    bit-exact-vs-SAME-ORDER-fold plus a tolerance vs the EXACT decimal
    evaluation of the truncated recurrence — proving the fixed-order chain
    (not the power-of-two weights alone) is what carries the cross-engine
    agreement (VERDICT r11 #4's second half)."""
    from decimal import Decimal

    from aws_etl_microservice_redshift_datalake_spark.operators.windows import (
        EWMA_LAGS,
        ewma_chain,
    )

    got = {
        r.event_id: r.ewma
        for r in ewma_chain(_ewma_df(spark, rows), alpha=alpha).collect()
    }
    # Same-order Python fold: still bit-identical (the order guarantee).
    want = _brute_ewma(rows, alpha, EWMA_LAGS)
    assert got.keys() == want.keys()
    for eid in want:
        assert got[eid] == want[eid], (eid, got[eid], want[eid])
    # Exact decimal evaluation of the same truncated sum: the float chain
    # must sit within lags * ulp-scale of the true value.
    byuser = {}
    for eid, (uid, ts, v) in enumerate(rows):
        byuser.setdefault(uid, []).append((ts, eid, v))
    for rs in byuser.values():
        rs.sort(key=lambda r: (r[0], r[1]))
        xs = [r[2] for r in rs]
        for i, (_, eid, _v) in enumerate(rs):
            true = Decimal(0)
            for j in range(EWMA_LAGS):
                if i - j >= 0:
                    w = Decimal(repr(alpha * (1.0 - alpha) ** j))
                    true += Decimal(repr(xs[i - j])) * w
            tol = 1e-9 * max(1.0, max(abs(x) for x in xs))
            assert abs(got[eid] - float(true)) <= tol, (eid, got[eid], true)


# ---------------------------------------------------------------------------
# Gopher repetition stats (q_gopher_repetition's library form) vs Counter
# ---------------------------------------------------------------------------


def _brute_rep(text):
    """Reference repetition metrics via collections.Counter — the
    definitionally-obvious spelling (multiset counts), vs the engines'
    sorted-array run statistics. Conventions as documented at
    GOPHER_REP_PCT: instances beyond the first; all-instance char mass of
    repeated values; char-heaviest run for top-n."""
    import collections

    toks = text.split(" ")
    lines = text.split("\n")
    cl = collections.Counter(lines)
    out = {
        "chars": len(text),
        "n_lines": len(lines),
        "dupline_inst": sum(c - 1 for c in cl.values() if c > 1),
        "dupline_chars": sum(len(x) * c for x, c in cl.items() if c > 1),
    }
    for n in (2, 3, 4, 5, 6, 7, 8, 9, 10):
        grams = (
            [" ".join(toks[i: i + n]) for i in range(len(toks) - n + 1)]
            if len(toks) >= n
            else []
        )
        cg = collections.Counter(grams)
        if n <= 4:
            out[f"top{n}_chars"] = max(
                (c * len(g) for g, c in cg.items()), default=0
            )
        else:
            out[f"dup{n}_chars"] = sum(
                c * len(g) for g, c in cg.items() if c > 1
            )
    return out


# tiny vocab + short lines so repeated lines/grams and '' tokens (double
# spaces) are common; docs are built as line-lists and the reference
# re-splits the FINAL text exactly like the engines do (so tokens that
# straddle a newline stay merged in both)
_rep_docs = st.lists(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "cc", ""]), max_size=8),
        min_size=1,
        max_size=5,
    ),
    max_size=6,
)


@given(docs=_rep_docs)
@settings(**_SETTINGS)
@full_sweeps_only
def test_repetition_stats_match_counter_reference(spark, docs):
    from aws_etl_microservice_redshift_datalake_spark.operators.text import (
        repetition_stats,
    )

    texts = ["\n".join(" ".join(line) for line in doc) for doc in docs]
    rows = [(i, "en", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows or [(None, None, None)],
        "doc_id long, lang string, text string",
    ).filter(F.col("doc_id").isNotNull())
    got = {r.doc_id: r.asDict() for r in repetition_stats(df).collect()}
    assert len(got) == len(texts)
    for i, t in enumerate(texts):
        want = _brute_rep(t)
        for k, v in want.items():
            assert got[i][k] == v, (i, k, got[i][k], v, repr(t))


_rep_pcts = st.fixed_dictionaries(
    {
        k: st.integers(0, 100)
        for k in (
            "dupline", "dupline_chars", "top2", "top3", "top4",
            "dup5", "dup6", "dup7", "dup8", "dup9", "dup10",
        )
    }
)


@given(docs=_rep_docs, pcts=_rep_pcts)
@settings(**_SETTINGS)
@full_sweeps_only
def test_repetition_report_flags_match_fractions_at_random_thresholds(
    spark, docs, pcts
):
    """The REPORT layer at RANDOM threshold grid points (VERDICT r12 #4):
    the engine's 100·metric > pct·denominator integer restatement must
    equal the published FRACTION comparison metric/denom > pct/100 —
    exact rational arithmetic via fractions.Fraction, metrics from the
    independent Counter reference — for every signal, at thresholds the
    published constants never visit (0, 100, and everything between).
    Each doc gets its own lang so the per-lang report rows are per-doc."""
    from fractions import Fraction

    from aws_etl_microservice_redshift_datalake_spark.operators.text import (
        gopher_repetition_report,
    )

    texts = ["\n".join(" ".join(line) for line in doc) for doc in docs]
    rows = [(i, f"l{i}", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows or [(None, None, None)],
        "doc_id long, lang string, text string",
    ).filter(F.col("doc_id").isNotNull())
    got = {
        r.lang: r.asDict()
        for r in gopher_repetition_report(df, pcts).collect()
    }
    assert len(got) == len(texts)

    def flag(metric, p, denom):
        if denom == 0:
            return metric > 0  # 100·m > p·0 in the engine spelling
        return Fraction(metric, denom) > Fraction(p, 100)

    for i, t in enumerate(texts):
        m = _brute_rep(t)
        want = {
            "dupline": flag(m["dupline_inst"], pcts["dupline"], m["n_lines"]),
            "dupline_chars": flag(
                m["dupline_chars"], pcts["dupline_chars"], m["chars"]
            ),
        }
        for n in (2, 3, 4):
            want[f"top{n}"] = flag(
                m[f"top{n}_chars"], pcts[f"top{n}"], m["chars"]
            )
        for n in (5, 6, 7, 8, 9, 10):
            want[f"dup{n}"] = flag(
                m[f"dup{n}_chars"], pcts[f"dup{n}"], m["chars"]
            )
        rep = got[f"l{i}"]
        assert rep["n_docs"] == 1
        for k, w in want.items():
            assert rep[f"n_fail_{k}"] == int(w), (i, k, pcts[k], m, rep)
        assert rep["n_pass"] == int(not any(want.values())), (i, m, rep)


# ---------------------------------------------------------------------------
# Gopher rules report (q_gopher_rules' library form) vs a Python reference
# ---------------------------------------------------------------------------


def _brute_gopher(text, n_chars):
    """Reference rule battery with the documented conventions: integer
    thresholds, n_chars-based mean word length behind the [0, 2^40] stats
    guard, NULLs coalesce to fail."""
    if text is None:
        return {k: False for k in (
            "words", "wordlen", "symbol", "bullet", "ellipsis", "alpha",
            "stop")}
    toks = text.split(" ")
    lines = text.split("\n")
    n = len(toks)
    out = {"words": 50 <= n <= 100_000}
    if n_chars is None or not (0 <= n_chars <= (1 << 40)):
        out["wordlen"] = False
    else:
        wl = n_chars - (n - 1)
        out["wordlen"] = 3 * n <= wl <= 10 * n
    n_hash = text.count("#")
    ell_chars = len(text) - len(text.replace("...", ""))
    out["symbol"] = 10 * n_hash <= n and 10 * ell_chars <= 3 * n
    n_bul = sum(1 for l in lines if l.startswith("- ") or l.startswith("• "))
    out["bullet"] = 10 * n_bul <= 9 * len(lines)
    n_ell = sum(1 for l in lines if l.endswith("...") or l.endswith("…"))
    out["ellipsis"] = 10 * n_ell <= 3 * len(lines)
    n_alpha = sum(1 for w in toks if any(c.isascii() and c.isalpha() for c in w))
    out["alpha"] = 5 * n_alpha >= 4 * n
    stops = {"the", "be", "to", "of", "and", "that", "have", "with"}
    out["stop"] = len(stops & set(toks)) >= 2
    return out


_gopher_docs = st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.sampled_from(
                ["the", "and", "word", "ab", "#", "123", "x...", "- y", ""]
            ),
            max_size=60,
        ).map(lambda ws: " ".join(ws)),
        # multi-line shapes so the bullet/ellipsis line rules fire
        st.lists(
            st.sampled_from(
                ["- the and word", "plain words here", "ends like this...",
                 "• bullet start", ""]
            ),
            min_size=1,
            max_size=6,
        ).map(lambda ls: "\n".join(ls)),
    ),
    max_size=8,
)


@given(docs=_gopher_docs)
@settings(**_SETTINGS)
@full_sweeps_only
def test_gopher_rules_match_python_reference(spark, docs):
    from aws_etl_microservice_redshift_datalake_spark.operators.text import (
        _GOPHER_RULES,
        gopher_report,
    )

    rows = [
        (i, f"l{i}", t, None if t is None else len(t))
        for i, t in enumerate(docs)
    ]
    df = spark.createDataFrame(
        rows or [(None, None, None, None)],
        "doc_id long, lang string, text string, n_chars bigint",
    ).filter(F.col("doc_id").isNotNull())
    got = {
        r.lang: r.asDict()
        for r in gopher_report(df.select("lang", "text", "n_chars")).collect()
    }
    for i, t in enumerate(docs):
        want = _brute_gopher(t, None if t is None else len(t))
        rep = got[f"l{i}"]
        for k in _GOPHER_RULES:
            assert rep[f"n_fail_{k}"] == (0 if want[k] else 1), (i, k, repr(t))
        assert rep["n_pass"] == (1 if all(want.values()) else 0), (i, repr(t))


# ---------------------------------------------------------------------------
# C4 report (q_c4_filters' library form) vs a Python reference
# ---------------------------------------------------------------------------


def _brute_c4(text):
    lines = text.split("\n")

    def keep(l):
        return (
            l.endswith((".", "!", "?", '"'))
            and len(l.split(" ")) >= 5
            and "javascript" not in l.lower()
        )

    kept = [l for l in lines if keep(l)]
    n_sent = sum(l.count(".") + l.count("!") + l.count("?") for l in kept)
    low = text.lower()
    toks = set(low.split(" "))
    f_lorem = "lorem ipsum" in low
    f_brace = "{" in text
    f_bad = bool(toks & {"badtok0", "badtok1"})
    return {
        "n_lines": len(lines),
        "n_kept_lines": len(kept),
        "n_fail_lorem": int(f_lorem),
        "n_fail_brace": int(f_brace),
        "n_fail_badword": int(f_bad),
        "n_fail_sentences": int(n_sent < 3),
        "n_retained": int(
            not f_lorem and not f_brace and not f_bad and n_sent >= 3
        ),
    }


_c4_docs = st.lists(
    st.lists(
        st.sampled_from(
            [
                "one two three four five.",
                "short line.",
                "no punct five words here",
                "JavaScript needed to view this page.",
                'quoted line with five words"',
                "has lorem ipsum in it somewhere.",
                "code { brace } line words.",
                "contains badtok0 token words here!",
                "multi. sentence? line! with five words.",
                "",
            ]
        ),
        min_size=1,
        max_size=6,
    ).map(lambda ls: "\n".join(ls)),
    max_size=6,
)


@given(docs=_c4_docs)
@settings(**_SETTINGS)
@full_sweeps_only
def test_c4_report_matches_python_reference(spark, docs):
    from aws_etl_microservice_redshift_datalake_spark.operators.text import c4_report

    rows = [(i, f"l{i}", t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(
        rows or [(None, None, None)],
        "doc_id long, lang string, text string",
    ).filter(F.col("doc_id").isNotNull())
    got = {
        r.lang: r.asDict()
        for r in c4_report(df.select("lang", "text")).collect()
    }
    for i, t in enumerate(docs):
        want = _brute_c4(t)
        rep = got[f"l{i}"]
        for k, v in want.items():
            assert rep[k] == v, (i, k, rep[k], v, repr(t))


@given(docs=_setsim_docs, tau=st.sampled_from([0.5, 0.75, 0.8, 1.0]))
@settings(**_SETTINGS)
@full_sweeps_only
def test_containment_join_lossless(spark, docs, tau):
    """containment_join_sets must equal brute-force all-ORDERED-pairs
    exact containment on random set corpora at several thresholds — the
    direct certificate that the probe-prefix + full-posting + length +
    positional candidate stage is lossless for the ASYMMETRIC measure
    (|a∩b|/|a|, both directions), which the DuckDB oracle re-proves only
    on the fixture corpus."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        containment_join_sets,
    )
    from pyspark.sql import functions as F

    def shingles(toks):
        ts = [f"w{t}" for t in toks]
        if len(ts) >= 3:
            return {" ".join(ts[i: i + 3]) for i in range(len(ts) - 2)}
        return {" ".join(ts)}

    interned: dict[str, int] = {}
    sets = []
    for i, toks in enumerate(docs):
        ids = {interned.setdefault(s, len(interned)) for s in shingles(toks)}
        sets.append((i, sorted(ids)))
    d = spark.createDataFrame(
        sets or [(None, None)], "doc_id long, sh array<long>"
    ).filter(F.col("doc_id").isNotNull())
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_join_sets(d, tau).collect()
    }
    want = {}
    for a in range(len(sets)):
        for b in range(len(sets)):
            if a == b:
                continue
            sa, sb = set(sets[a][1]), set(sets[b][1])
            c = len(sa & sb) / len(sa)
            if c >= tau:
                want[(a, b)] = c
    assert got.keys() == want.keys()
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-15


def test_containment_is_asymmetric_on_planted_subset(spark):
    """A short set fully inside a long one must report C(a→b) = 1.0 while
    the reverse direction falls below τ — the Jaccard-invisible case the
    operator exists for (J here = 3/10 < any useful τ)."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        containment_join_sets,
    )

    a = list(range(3))
    b = list(range(10))
    d = spark.createDataFrame(
        [(0, a), (1, b)], "doc_id long, sh array<long>"
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_join_sets(d, 0.8).collect()
    }
    assert got == {(0, 1): 1.0}


@given(
    docs=st.lists(
        st.sampled_from(["aa bb", "cc dd", "ee", "ff gg hh", "ii", "jj kk"]),
        min_size=1,
        max_size=12,
    ),
    m=st.integers(2, 64),
    k=st.integers(1, 4),
)
@settings(**_SETTINGS)
@full_sweeps_only
def test_bloom_dedup_equals_sequential_simulation(spark, docs, m, k):
    """The orderless min-per-bit restatement must equal a LITERAL
    sequential Bloom pass (insert in doc_id order, flag when all k bits
    already set) at adversarially small m — where false positives are
    the norm, not the tail — and randomized k. Positions come from the
    same salted-md5 scheme, computed independently via hashlib."""
    import hashlib

    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        bloom_dedup_report,
    )

    def positions(text):
        return {
            int(
                hashlib.md5(f"bff{j}:{text}".encode()).hexdigest()[:12], 16
            )
            % m
            for j in range(k)
        }

    filt = set()
    expect_flagged = []
    expect_dup = []
    seen_texts = set()
    for i, t in enumerate(docs):
        ps = positions(t)
        expect_flagged.append(ps <= filt)
        expect_dup.append(t in seen_texts)
        filt |= ps
        seen_texts.add(t)

    df = spark.createDataFrame(
        [(i, f"l{i}", t) for i, t in enumerate(docs)],
        "doc_id long, lang string, text string",
    )
    got = {
        r.lang: r.asDict() for r in bloom_dedup_report(df, m, k).collect()
    }
    assert len(got) == len(docs)
    for i in range(len(docs)):
        rep = got[f"l{i}"]
        assert rep["n_flagged"] == int(expect_flagged[i]), (i, m, k, docs)
        assert rep["n_true_dup"] == int(expect_dup[i]), (i, docs)
        # Bloom never misses: a true duplicate is always flagged
        assert rep["n_flagged"] >= rep["n_true_dup"]
        assert rep["n_false_pos"] == rep["n_flagged"] - rep["n_true_dup"]


@given(
    docs=st.lists(
        st.sampled_from(["aa bb", "cc dd", "ee", "ff gg hh", "ii", "jj kk"]),
        min_size=1,
        max_size=10,
    ),
    k=st.integers(1, 3),
)
@settings(**_SETTINGS)
@full_sweeps_only
def test_bloom_sweep_equals_per_m_simulation(spark, docs, k):
    """The one-pass sweep must equal an INDEPENDENT sequential Bloom pass
    per grid size (positions = the same 48-bit base mod m — the re-size-
    without-re-hash property), summed over the corpus; true duplicates
    must be flagged at EVERY m (no false negatives at any size)."""
    import hashlib

    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        bloom_sweep_report,
    )

    grid = (2, 8, 32)

    def h48(text):
        return [
            int(hashlib.md5(f"bff{j}:{text}".encode()).hexdigest()[:12], 16)
            for j in range(k)
        ]

    want = {}
    for m in grid:
        filt = set()
        seen = set()
        n_fl = n_dup = n_fp = 0
        for i, t in enumerate(docs):
            ps = {h % m for h in h48(t)}
            fl = ps <= filt
            dup = t in seen
            n_fl += fl
            n_dup += dup
            n_fp += fl and not dup
            assert not dup or fl  # no false negatives, per m
            filt |= ps
            seen.add(t)
        want[m] = (len(docs), n_fl, n_dup, n_fp)

    df = spark.createDataFrame(
        [(i, "en", t) for i, t in enumerate(docs)],
        "doc_id long, lang string, text string",
    )
    got = {
        r.m: (r.n_docs, r.n_flagged, r.n_true_dup, r.n_false_pos)
        for r in bloom_sweep_report(df, grid, k).collect()
    }
    assert got == want, (docs, k)


def test_containment_apply_removes_subset_keeps_container(spark):
    """The subset-removal pins no twin compare can give (both engines
    could share a wrong decision rule): a clipped subset inside a larger
    container must be REMOVED and the container KEPT even when the
    container is itself contained in the subset at τ (|a∩b|/|b| ≥ τ with
    |b| > |a∩b|... the 8-in-10 case: C(big→small) = 0.8 but small is not
    larger, so big survives); an equal-size mutual pair must keep exactly
    the smallest doc_id; an untouched doc reports removed = false with a
    NULL best score."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        containment_apply,
    )

    rows = [
        (1, list(range(10))),        # container: C(1→2) = 8/10 = 0.8, but
        (2, list(range(8))),         #   |2| < |1| so 1 is kept; 2 removed
        (3, list(range(100, 106))),  # mutual equal pair: keep 3 (smaller
        (4, list(range(100, 106))),  #   id), remove 4
        (5, list(range(200, 211))),  # disjoint: untouched
    ]
    d = spark.createDataFrame(rows, "doc_id long, sh array<long>")
    got = {r.doc_id: r.asDict() for r in containment_apply(d, 0.8).collect()}
    assert len(got) == 5
    assert got[2]["removed"] and got[2]["best_containment"] == 1.0
    assert not got[1]["removed"], got[1]
    assert not got[3]["removed"], got[3]
    assert got[4]["removed"] and got[4]["n_containers"] == 1
    assert not got[5]["removed"]
    assert got[5]["n_containers"] == 0
    assert got[5]["best_containment"] is None


def test_containment_exact_threshold_boundary_pair_kept(spark):
    """A pair sitting EXACTLY at C = τ with the required overlap exactly
    at the ceil integer boundary must be reported — the 1e-9 slack in
    containment_candidates' need and in the probe-prefix length pins
    exactly this (the setsim boundary precedent, asymmetric form)."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        containment_join_sets,
    )

    # |a| = 5, |a∩b| = 4, C = 4/5 = 0.8 exactly; need = ceil(0.8·5) = 4
    a = [0, 1, 2, 3, 99]
    b = [0, 1, 2, 3] + list(range(100, 120))
    d = spark.createDataFrame(
        [(0, a), (1, b)], "doc_id long, sh array<long>"
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_join_sets(d, 0.8).collect()
    }
    assert got.get((0, 1)) == 0.8
    assert (1, 0) not in got  # 4/24 in the reverse direction


# ---------------------------------------------------------------------------
# DSIR weights (q_dsir_weights' library form) vs a Python reference
# ---------------------------------------------------------------------------


def _brute_dsir(rows, target_lang, buckets):
    """Reference DSIR replicating dsir_weights' exact arithmetic: md5
    bucket hash, Laplace-smoothed fixed-parenthesization ln ratio rounded
    HALF_UP on the 1e-6 grid (Decimal(repr(x)) — the bm25 rounding
    spelling), exact Decimal per-doc sum."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def grams(text):
        t = text.split(" ")
        gs = list(t)
        if len(t) >= 2:
            gs += [f"{a} {b}" for a, b in zip(t, t[1:])]
        return gs

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:6], 16) % buckets

    c_t: dict[int, int] = {}
    c_r: dict[int, int] = {}
    for _, lang, text in rows:
        if text is None:
            continue
        for g in grams(text):
            b = bucket(g)
            c_r[b] = c_r.get(b, 0) + 1
            if lang == target_lang:
                c_t[b] = c_t.get(b, 0) + 1
    t_tot = sum(c_t.values())
    r_tot = sum(c_r.values())
    lnr = {}
    for b in c_r:
        raw = math.log(
            ((c_t.get(b, 0) + 1) / (t_tot + buckets))
            / ((c_r[b] + 1) / (r_tot + buckets))
        )
        lnr[b] = Decimal(repr(raw)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    out = {}
    for doc_id, _lang, text in rows:
        if text is None:
            continue
        s = Decimal(0)
        for g in grams(text):
            s += lnr[bucket(g)]
        out[doc_id] = float(s)
    return out


@given(
    docs=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.sampled_from(["the", "cat", "sat", "xyz", ""]), max_size=8
            ).map(lambda ws: " ".join(ws)),
        ),
        max_size=8,
    ),
    langs=st.lists(st.sampled_from(["en", "xx"]), max_size=8),
)
@settings(**_SETTINGS)
@full_sweeps_only
def test_dsir_weights_match_python_reference(spark, docs, langs):
    """dsir_weights must equal the brute-force Python reference to the
    exact double on random corpora — the bucket hash, the grid-rounded
    ln ratios, and the order-independent decimal doc sums all replicated
    independently (the separation pin checks semantics; this checks the
    arithmetic)."""
    from aws_etl_microservice_redshift_datalake_spark.operators.sampling import (
        DSIR_BUCKETS,
        dsir_weights,
    )

    rows = [
        (i, langs[i % len(langs)] if langs else "en", t)
        for i, t in enumerate(docs)
    ]
    df = spark.createDataFrame(
        rows or [(None, None, None)],
        "doc_id long, lang string, text string",
    ).filter(F.col("doc_id").isNotNull())
    got = {r.doc_id: r.logw for r in dsir_weights(df).collect()}
    want = _brute_dsir(rows, "en", DSIR_BUCKETS)
    assert got.keys() == want.keys()
    for k in want:
        # one exact decimal sum on each side; the only float step is the
        # final DECIMAL->DOUBLE render (exact below 2^53/1e6)
        assert abs(got[k] - want[k]) <= 1e-9, (k, got[k], want[k])
