"""Similarity search over the embeddings table — SURVEY.md §2.10 L4/L5 plus
cosine near-dup and an LSH-bucketed ANN variant.

Reference parity: LLM-data-pipeline extension (BASELINE.json north star;
/root/reference is empty — SURVEY.md §0). Vectors are dim-64 and
L2-normalized (FIXTURES.md), so cosine similarity ≡ dot product.

Scale notes (100 TB):
- The brute-force path broadcasts the (small) QUERY set and streams the
  (huge) target side — a broadcast nested loop where the big side never
  shuffles; per-row cost is a 64-wide unrolled JVM expression inside
  whole-stage codegen, no Python.
- The scale path (q_ann_lsh_topk) buckets vectors by random-hyperplane signs
  (SimHash for vectors): candidates come from the query's bucket only, an
  equi-join. Recall < 1 by construction — it's declared rows-only and its
  recall is measured in pytest against the brute-force truth.
- All dot products run in DOUBLE (float32 inputs upcast first): engines then
  agree to the ulp, and ranking uses raw sims with vec_id tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import exact_sum, md5_bucket, o_exact_sum, o_md5_bucket, query
from ..sources.io import load_spread, load_table, table_rows

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table, spread to the session's parallelism only when the
    scan under-splits (it ships as one parquet file — without the spread every
    dot-product scan runs on a single core). Under-split detection is pure
    parquet-footer metadata (sources.io.load_spread) — no eager Spark job at
    query-build time. On a many-file cluster corpus no shuffle is inserted;
    queries stay broadcast."""
    return load_spread(spark, sf_dir, "embeddings")


DIM = 64


def _dot(a, b):
    """Dot product over float32 arrays via aggregate(zip_with(...)), upcast
    per element. Measured on Spark 4.1 (sf0.1 corpus AND a 1M-row amplified
    run): this higher-order form beats the 64-term unrolled element_at
    expression ~2× at every scale — the ~400-node unrolled tree costs more
    in analysis/codegen than its per-element arithmetic saves, while the
    HOF's 3 expression nodes evaluate in a tight loop. Addition order is the
    sequential left-to-right fold (0.0 + t1 + t2 + ...), bit-identical to
    DuckDB's list_inner_product over ::DOUBLE[] casts."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _bucketable(vcol):
    """Conformance predicate applied BEFORE LSH bucketing (ADVICE r6).

    NULL, ragged, empty, element-NULL/NaN, and all-zero vectors all hash to
    bucket 0 in EVERY table — their plane sums are NULL/NaN/0, so every
    `sum > 0` sign bit is 0 — so m such degraded rows form an O(m²·L)
    candidate clique in the bucket self-join, the exact quadratic stage the
    banding exists to prevent on a 100 TB degraded lake.

    Excluding them is a CONTRACT, not a free optimization, and the
    q_cosine_neardup oracle mirrors it with the same conditions:
    NULL/zero similarities could indeed never pass the >= 0.8 verify, but
    NaN could — NaN >= 0.8 is TRUE in both Spark and DuckDB (NaN sorts
    above all numerics; r7 review, verified empirically) — and a curation
    engine must not report NaN-poisoned garbage as near-duplicates.
    ±Inf elements are excluded for the same reason (r7 full-round review):
    an Inf element survives the NaN check, but its dot against a vector
    with 0 (inf·0) or the opposite infinity at that position is NaN —
    which PASSES the >= 0.8 verify in both engines. Non-finite anywhere →
    not bucketable. Mirrors the size==DIM guard in the pandas-UDF
    kernels."""
    return _finite_vec(vcol) & F.exists(vcol, lambda x: x != 0)


# Magnitude bound for a CONFORMING embedding element (r9, ADVICE r8 #2 —
# the vector analog of registry.MONEY_MAX). `isfinite` is not enough: the
# storage type is float32, so a corrupted-but-finite ±3.4e38 element passes
# every NULL/NaN/Inf check, then its double products (~1e77) outrank every
# real neighbor and pass every >= τ cut in BOTH engines — agreeing garbage
# no twin compare can flag — and a ± pair cancels fold-order-dependently
# (numpy's pairwise mat@basis vs DuckDB's sequential fold), the exact
# divergence class MONEY_MAX closed for money sums in r8. Real embedding
# features are O(1)–O(100) (the fixtures' max |x| is 0.58); 1e6 gives any
# legitimate pipeline huge headroom while keeping the worst conforming dot
# |Σ 64·B²| = 6.4e13 < 2^53, so double accumulation never absorbs a
# unit-scale term into invisibility.
VEC_ABS_MAX = 1e6


def _finite_vec(vcol):
    """Embedding conformance contract for every similarity/stat consumer
    (r8, VERDICT r7 #2; magnitude bound r9, ADVICE r8 #2): declared width
    AND every element present, finite, and |x| <= VEC_ABS_MAX. NULL
    vectors, ragged/truncated rows, and element-NULL/NaN/±Inf/finite-absurd
    values are excluded BY CONTRACT in both twins — DuckDB's
    list_inner_product THROWS on ragged/element-NULL input (no try_
    variant), Spark's zip_with fold silently yields NULL/NaN, a NaN
    dot PASSES every >= τ cut in both engines (NaN sorts above all
    numerics), and a finite-absurd element's dot outranks every real
    neighbor in both (see VEC_ABS_MAX) — so without one shared declared
    population, a dirty lake either crashes the oracle or reports
    garbage as neighbors. Oracle twin: :data:`O_VEC_CONFORM`. All-zero
    vectors stay (their sims are exactly 0.0 in both engines);
    `_bucketable` adds the nonzero test only where sign-LSH needs it.
    Both engines order NaN above all numerics, so abs(NaN) > B is TRUE in
    Spark AND DuckDB and the magnitude test alone would already exclude
    NaN; the explicit isnan is kept for clarity of intent (NaN is a
    distinct non-conformance class, not an absurd magnitude), not because
    the comparison would miss it (ADVICE r9: an earlier revision of this
    note claimed the inverse). ±Inf folds into the magnitude test
    (abs(±Inf) > B)."""
    return (F.size(vcol) == DIM) & ~F.exists(
        vcol, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) > VEC_ABS_MAX)
    )


# DuckDB-side twin of _finite_vec (the q_cosine_neardup oracle spelling,
# minus its LSH-only nonzero clause). Interpolate into an oracle WHERE.
O_VEC_CONFORM = (
    "len(embedding) = 64 AND len(list_filter(embedding,"
    # !r (full repr), not :.1f — a tuned bound not exact at one decimal
    # would silently desync the oracle predicate from the Spark predicate
    # (ADVICE r9); for the current 1e6 the two spellings are identical.
    f" x -> x IS NULL OR isnan(x) OR abs(x) > {VEC_ABS_MAX!r})) = 0"
)


@query(
    "q_ann_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES} AND {O_VEC_CONFORM}),
    t AS (SELECT vec_id AS t_id, label, embedding::DOUBLE[] AS tv
          FROM embeddings WHERE {O_VEC_CONFORM}),
    scored AS (
        SELECT q_id, t_id, label,
               list_inner_product(qv, tv) AS sim,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY list_inner_product(qv, tv) DESC, t_id ASC) AS rn
        FROM q CROSS JOIN t
        WHERE q_id <> t_id
    )
    SELECT q_id, t_id, label, ROUND(sim, 4) AS sim, CAST(rn AS INTEGER) AS rank
    FROM scored WHERE rn <= {TOP_K}
    """,
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: brute-force cosine top-k — for each query vector (vec_id < 10) the
    5 nearest neighbors by dot product (≡ cosine on unit vectors), self
    excluded. Broadcast queries × streamed targets; rank on raw sims with
    t_id tie-break, sims rounded only for output. Population is the
    `_finite_vec` conformance contract in both twins (r8): a ragged or
    NaN/Inf-poisoned vector must neither crash the scorer nor outrank
    every real neighbor."""
    e = _embeddings(spark, sf_dir).filter(_finite_vec(F.col("embedding")))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    t = e.select(
        F.col("vec_id").alias("t_id"), "label", F.col("embedding").alias("tv")
    )
    scored = (
        t.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("t_id"))
        .select("q_id", "t_id", "label", _dot(F.col("qv"), F.col("tv")).alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("t_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "t_id", "label", F.round("sim", 4).alias("sim"), "rank")
    )


@query(
    "q_knn_classify",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, label AS true_label, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 50 AND {O_VEC_CONFORM}),
    t AS (SELECT vec_id AS t_id, label, embedding::DOUBLE[] AS tv
          FROM embeddings WHERE {O_VEC_CONFORM}),
    neigh AS (
        SELECT q_id, true_label, label,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY list_inner_product(qv, tv) DESC, t_id ASC) AS rn
        FROM q CROSS JOIN t WHERE q_id <> t_id
    ), votes AS (
        SELECT q_id, true_label, label, COUNT(*) AS n_votes
        FROM neigh WHERE rn <= 10
        GROUP BY q_id, true_label, label
    ), pred AS (
        SELECT q_id, true_label, label AS pred_label FROM (
            SELECT q_id, true_label, label, n_votes,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY n_votes DESC, label ASC) AS rn
            FROM votes
        ) WHERE rn = 1
    )
    SELECT q_id AS vec_id, true_label, pred_label,
           true_label = pred_label AS is_correct
    FROM pred
    """,
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: 10-NN majority-vote label check for vec_id < 50 — exercises the
    ANN pipeline end-to-end (neighbors → votes → argmax with label asc
    tie-break) and compares predicted vs true label. Population is the
    `_finite_vec` conformance contract in both twins (r8): a NaN dot
    would outvote every real neighbor in both engines otherwise."""
    e = _embeddings(spark, sf_dir).filter(_finite_vec(F.col("embedding")))
    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qv"),
    )
    t = e.select(F.col("vec_id").alias("t_id"), "label", F.col("embedding").alias("tv"))
    w_sim = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("t_id"))
    neigh = (
        t.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("t_id"))
        .select("q_id", "t_id", "true_label", "label", _dot(F.col("qv"), F.col("tv")).alias("sim"))
        .withColumn("rn", F.row_number().over(w_sim))
        .filter(F.col("rn") <= 10)
    )
    votes = neigh.groupBy("q_id", "true_label", "label").agg(F.count(F.lit(1)).alias("n_votes"))
    w_vote = Window.partitionBy("q_id").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w_vote))
        .filter(F.col("rn") == 1)
        .select(
            F.col("q_id").alias("vec_id"),
            "true_label",
            F.col("label").alias("pred_label"),
            (F.col("true_label") == F.col("label")).alias("is_correct"),
        )
    )


N_TABLES = 8  # L independent hash tables
N_BITS = 4  # k hyperplane sign bits per table (query-side ANN: tiny query set,
# coarse buckets are fine — candidates are linear in |queries|)
NEARDUP_TABLES = 16  # corpus self-join needs FINER buckets: with k bits the
NEARDUP_BITS = 8  # random-pair collision rate is L/2^k ≈ 6% here, while
# recall at cosine s is 1-(1-p^k)^L, p = 1-arccos(s)/π: k=8/L=16 gives 0.94
# at s=0.8 and ≥0.999 at s≥0.9. These are the FLOOR values — see
# _neardup_params for the size-adaptive growth that keeps candidates linear.


def _neardup_params(n: int) -> tuple[int, int]:
    """(L, k) for the near-dup self-join, adapted to corpus size ``n``.

    Any FIXED k has a quadratic floor: random pairs collide in a given table
    with rate ~2^-k, so candidates ≈ L·C(n,2)/2^k — fine while n ≲ 2^k·c,
    quadratic beyond (measured: 10× rows → 100× candidates → 10.5× wall at
    k=8). The classic fix (Indyk-Motwani): grow k ~ log2(n) so n/2^k stays
    bounded — candidates stay ~L·c·n — and grow L to hold recall, since
    per-table match probability p^k falls as k rises. k is chosen as
    log2(n)-3 (≈ n/2^k ≤ 8 expected vectors per bucket per table), L as the
    smallest multiple of 4 ≥ the floor giving recall ≥ 0.95 at cosine 0.85
    (1-(1-p^k)^L, p = 1-arccos(0.85)/π ≈ 0.823). At the floor (n ≤ ~4k)
    this returns exactly (NEARDUP_TABLES, NEARDUP_BITS). Both knobs leave
    the plan SHAPE unchanged — same explode → equi-join → verify — only the
    bucket-id literal grows; cost shifts from the join (super-linear) to the
    per-row hash (linear, embarrassingly parallel)."""
    import math

    k = max(NEARDUP_BITS, min(20, int(math.log2(max(n, 2))) - 3))
    p0 = 1 - math.acos(0.85) / math.pi
    lsh_l = NEARDUP_TABLES
    while 1 - (1 - p0**k) ** lsh_l < 0.95:
        lsh_l += 4
    return lsh_l, k


PLANE_NNZ = 8  # non-zero dims per hyperplane (sparse random projections)


def _sparse_plane(p: int) -> list[tuple[int, float]]:
    """Deterministic sparse ±1 hyperplane for plane ``p``: 8 DISTINCT dims
    (arithmetic-progression bijection mod 64 — stride odd ⇒ no repeats) with
    pseudo-random signs. Very sparse random projections (Achlioptas '01,
    Li/Hastie/Church '06) preserve sign-LSH collision statistics at 1/8 the
    arithmetic of dense hyperplanes, and the 8-term unrolled sum stays inside
    whole-stage codegen — a dense 64-term unroll per plane blows past codegen
    method limits once planes×dims grows (measured to OOM a default-memory
    driver during broadcast build), while the higher-order-function fold runs
    interpreted (~10× slower). Identical on every executor, no broadcast
    state."""
    a = 2 * ((p * 2654435761) % 32) + 1  # odd stride -> bijection mod 64
    b = (p * 40503) % 64
    terms = []
    for j in range(PLANE_NNZ):
        dim = (a * j + b) % 64
        sign = 1.0 if ((p * 97 + j) * 2654435761 >> 7) & 1 else -1.0
        terms.append((dim, sign))
    return terms


def _lsh_tables(n_tables: int, n_bits: int, vcol):
    """array<struct<tbl,bkt>> of (table, k-bit sign-bucket) pairs for a
    vector column — the standard L-tables × k-bits construction
    (Indyk-Motwani '98 / Charikar '02) over sparse random projections.
    Computed per-row, zero shuffle.

    Plan-size discipline: the plane spec ships as ONE JSON literal (signed
    ints ±(dim+1), sign = projection weight) iterated with nested
    higher-order functions — ~30 expression nodes total. The fully unrolled
    equivalent (n_tables × n_bits × nnz element_at terms) builds a multi-
    thousand-node tree whose Catalyst analysis/optimization alone costs
    seconds PER QUERY on the driver (measured 6-12 s at L=16/k=8; codegen
    off changed nothing — it's optimizer time). Per-row interpreted-lambda
    cost is ~1k evals, amortized perfectly across executors at scale, while
    driver-side plan cost is serial and unsharded — at 1000 executors the
    small-plan form wins on both axes."""
    import json as _json

    spec = [
        [
            [int(sign) * (dim + 1) for dim, sign in _sparse_plane(t * n_bits + j)]
            for j in range(n_bits)
        ]
        for t in range(n_tables)
    ]
    spec_col = F.from_json(F.lit(_json.dumps(spec)), "array<array<array<int>>>")

    def term(s):
        # s = ±(dim+1): sign is the ±1 projection weight, |s| the 1-based
        # dim. TRY_element_at: under ANSI an out-of-bounds index throws, so
        # a ragged/empty embedding would kill the whole bucket stage (r6
        # sweep); NULL instead poisons the plane sum → bit 0 → the malformed
        # row lands in a bucket and is discarded by the exact-dot verify.
        return (
            F.when(s > 0, F.try_element_at(vcol, s)).otherwise(
                -F.try_element_at(vcol, -s)
            )
        ).cast("double")

    def bucket(tspec):
        # bucket bits MSB-first: acc*2 + (proj > 0)
        return F.aggregate(
            tspec,
            F.lit(0),
            lambda acc, plane: acc * 2
            + F.when(
                F.aggregate(plane, F.lit(0.0), lambda pacc, s: pacc + term(s)) > 0,
                F.lit(1),
            ).otherwise(F.lit(0)),
        )

    return F.transform(
        spec_col,
        lambda tspec, tidx: F.struct(
            tidx.cast("int").alias("tbl"), bucket(tspec).alias("bkt")
        ),
    )


@query(
    "q_cosine_neardup",
    # the t CTE's WHERE is the oracle twin of _bucketable: malformed vectors
    # (NULL/ragged/element-NULL/NaN/±Inf/finite-absurd/all-zero) are
    # excluded from near-dup detection BY CONTRACT in both engines
    # (NaN >= 0.8 is TRUE in both, an Inf element dots to NaN against a 0
    # or opposite-Inf position, and a finite-absurd float32 element's
    # ~1e77 dot passes every cut in both — see VEC_ABS_MAX)
    oracle=f"""
    WITH t AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE len(embedding) = 64
          AND len(list_filter(embedding,
                  x -> x IS NULL OR isnan(x) OR abs(x) > {VEC_ABS_MAX:.1f})) = 0
          AND len(list_filter(embedding, x -> x != 0)) > 0
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_inner_product(a.v, b.v), 4) AS sim
    FROM t a JOIN t b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.v, b.v) >= 0.8
    """,
)
def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim ≥ 0.8), LSH-bucketed — the
    100 TB shape, not all-pairs:

    1. candidate generation: each vector hashes into NEARDUP_TABLES × k-bit
       sign buckets per row (no shuffle); candidate pairs are ids that share
       a (table, bucket) — an EQUI self-join on the id+bucket projection
       only (vectors are NOT carried through the 16× exploded join);
    2. dedup candidates on (vec_a, vec_b);
    3. verify: re-join the two vectors by id and keep exact dot ≥ 0.8.

    (L, k) are SIZE-ADAPTIVE (see _neardup_params): the corpus size comes
    from parquet footer metadata (sources.io.table_rows — the statistics a
    cost-based planner reads from the catalog; zero Spark jobs) and picks
    k ~ log2(n) so random-pair
    candidates stay ~linear in n, with L raised to hold recall ≥ 0.95 at
    cosine 0.85 (≥ 0.999 from 0.95 up; at the (16, 8) floor, 0.94 at 0.8).
    The oracle is the exact all-pairs answer (empty on this corpus: max
    off-diagonal cosine ≈ 0.6). The bucket self-join is HINTED to a shuffle
    join: both sides are corpus-sized, and the planner's parquet-stats
    estimate would otherwise broadcast a side whose true (exploded) size is
    L× the input. tests/test_plans.py asserts the plan has no
    cartesian/BNLJ over two corpus-sized sides."""
    e = _embeddings(spark, sf_dir)
    t = e.select("vec_id", F.col("embedding").alias("v"))
    # id+bucket only (~24 B/row × L per vector), memoized behind the memo's
    # count barrier because both self-join sides read it and it is
    # narrow-but-expensive (L×k sparse projections per vector). Cold
    # q_cosine_neardup, memo on → off (sf0.1, `local[4]`, 4 alternating
    # fresh-process pairs): 3.14→3.37, 3.72→3.87, 3.14→3.35, 3.13→3.17 s.
    from ..sources.io import _stat_sig, table_path
    from ._memo import session_memo

    def _params() -> tuple:
        # derived INSIDE the sig/build callables (both run under the memo's
        # key lock): a rewrite crossing a size regime while this caller
        # waited for the lock must re-derive (L, k) from the FRESH footer
        # stats, or the build would band the new corpus with stale floor
        # params (r6 review). table_rows re-stats per call (sig-keyed
        # cache), so this is ~µs.
        return _neardup_params(table_rows(sf_dir, "embeddings"))

    buckets = session_memo(
        "lsh-buckets",
        spark,
        sf_dir,
        # signature carries (L, k) alongside the table state: the bucket
        # relation is a FUNCTION of the params, so a different banding
        # (size-regime change after an amplification, or a test forcing the
        # grown regime) must never be satisfied by a memoized floor-params
        # relation (r6 review). Callable → evaluated fresh-at-build, and
        # re-checked after materialization (a mid-build rewrite returns the
        # relation unmemoized — _memo.session_memo).
        lambda: (_stat_sig(table_path(sf_dir, "embeddings")), *_params()),
        lambda: t.filter(_bucketable(F.col("v"))).select(
            "vec_id",
            F.explode(_lsh_tables(*_params(), F.col("v"))).alias("tb"),
        ).select("vec_id", "tb.tbl", "tb.bkt"),
    )
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
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", _dot(F.col("va"), F.col("vb")).alias("sim_raw"))
        .filter(F.col("sim_raw") >= 0.8)
        .select("vec_a", "vec_b", F.round("sim_raw", 4).alias("sim"))
    )


@query("q_ann_lsh_topk")  # rows-only: approximate recall is the contract, not equality
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 scale path: multi-table random-hyperplane LSH ANN (the standard
    L-tables × k-bits construction; Charikar '02 / Indyk-Motwani '98).

    Each vector hashes to one k-bit sign bucket per table (deterministic
    pseudo-random hyperplanes: plane p, dim i weight = ((p*64+i)*2654435761
    mod 1000)/500 - 1); candidates are target vectors sharing a (table,
    bucket) pair with the query — an equi-join per table instead of a cross
    join — then exact dot-product re-ranking of the (deduplicated) candidate
    union. Recall for neighbors at cosine s is 1-(1-p^k)^L with
    p = 1 - arccos(s)/π: k=4/L=8 gives ≳0.95 at s=0.7. At 100 TB, raise k
    (finer buckets, bounded candidate sets) and L together to hold recall —
    candidate generation stays equi-join-shaped, never pairwise.
    Rows-only by design; tests/test_quality.py enforces the recall floor
    against brute-force truth.
    """
    e = _embeddings(spark, sf_dir).filter(_bucketable(F.col("embedding")))
    v = F.col("embedding")
    tables = _lsh_tables(N_TABLES, N_BITS, v)
    t_side = e.select(
        F.col("vec_id").alias("t_id"), "label", v.alias("tv"),
        F.explode(tables).alias("tb"),
    ).select("t_id", "label", "tv", "tb.tbl", "tb.bkt")
    q_side = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), v.alias("qv"), F.explode(tables).alias("tb"))
        .select("q_id", "qv", "tb.tbl", "tb.bkt")
    )
    # candidate union across tables, deduped before the (expensive) re-rank
    cand = (
        t_side.join(F.broadcast(q_side), ["tbl", "bkt"])
        .filter(F.col("q_id") != F.col("t_id"))
        .select("q_id", "qv", "t_id", "label", "tv")
        .dropDuplicates(["q_id", "t_id"])
    )
    scored = cand.select(
        "q_id", "t_id", "label", _dot(F.col("qv"), F.col("tv")).alias("sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("t_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "t_id", "label", F.round("sim", 4).alias("sim"), "rank")
    )


IVF_NPROBE = 8  # cells probed per query (of ~√n cells)
IVF_ITERS = 2  # Lloyd refinement passes over the deterministic seed set
IVF_TRAIN_PER_CELL = 256  # training sample cap per centroid (FAISS's default)
IVF_TRAIN_BLOCK = 1024  # rows per NumPy assignment block in _ivf_lloyd


def _ivf_lloyd(x, n_cells: int):
    """Spherical k-means on the driver: ``x`` is the (m, DIM) float64
    training sample in xxhash64(t_id) order, whose first ``n_cells`` rows
    are the seeds. Runs IVF_ITERS Lloyd passes and returns ``(cells, c)``:
    the surviving cell ids (ascending) and their unit-norm centroids.

    Assignment is the first ``argmax`` of ``x @ c.T`` with cells kept in
    ascending id order — the same tie-break as ``build_ivf_index``'s
    (higher dot, then lower cell). Scoring runs in IVF_TRAIN_BLOCK-row
    blocks, so the score matrix never exceeds IVF_TRAIN_BLOCK × n_cells
    doubles (32 MB at the 4096-cell ceiling). The new centroid is the
    member sum scaled to unit norm (the spherical mean). A cell whose
    member sum has zero norm is dropped: every empty cell (as the Spark
    ``groupBy("cell")`` dropped them) and any cell of all-zero or
    cancelling members. Normalizing it would give a NaN centroid, and
    ``argmax`` ranks NaN above every number, so one NaN cell would capture
    every vector on the next pass."""
    import numpy as np

    cells = np.arange(min(n_cells, len(x)), dtype=np.int64)
    c = x[: len(cells)]
    for _ in range(IVF_ITERS):
        if not len(c):
            break
        a = np.concatenate([
            np.argmax(x[i : i + IVF_TRAIN_BLOCK] @ c.T, axis=1)
            for i in range(0, len(x), IVF_TRAIN_BLOCK)
        ])
        sums = np.stack(
            [np.bincount(a, weights=x[:, d], minlength=len(c)) for d in range(DIM)],
            axis=1,
        )
        norm = np.sqrt((sums * sums).sum(axis=1))
        keep = norm > 0
        c = sums[keep] / norm[keep, None]
        cells = cells[keep]
    return cells, c


def build_ivf_index(
    spark: SparkSession, sf_dir: str, n_assign: int = 1
) -> tuple[DataFrame, DataFrame]:
    """Train the spherical-k-means coarse quantizer and materialize the
    inverted index (code-moved from q_ann_ivf_topk in round 4 so SemDeDup's
    clustered path reuses the same model): returns ``(index, cents)`` with
    index = (cell, t_id, label, tv) and cents = (cell, cv).

    1. train (on the driver): ONE Spark action collects, through
       ``toArrow()``, the first IVF_TRAIN_PER_CELL × C conforming
       (`_finite_vec`) vectors in xxhash64(t_id) order — the first C of
       them are the seeds. The whole corpus trains while 256·C ≥ n (up to
       n ≈ 65,536); above that the sample is this deterministic hash-order
       prefix, as FAISS trains on ≤ 256 points per centroid. `_ivf_lloyd`
       runs the IVF_ITERS passes in NumPy. Driver memory is bounded by the
       sample: at the 4096-cell ceiling, 256 × 4096 rows × 64 float64 =
       512 MB (its 256 MB float32 Arrow form is freed before the passes),
       plus one IVF_TRAIN_BLOCK × C score block (≤ 32 MB). The model goes
       back to Spark as an Arrow table.
    2. index: the final assignment of every vector stays in Spark
       (max_by, or the multi-probe top-n below).

    ``n_assign`` > 1 indexes each vector into its top-n cells (multi-probe
    indexing): membership doubles but pair-recall across cell boundaries
    rises sharply — the standard dedup-side trade, where a missed neighbor
    is a missed duplicate rather than a slightly-worse ANN hit.

    Neither half is memoized. The model is a driver-built Arrow relation
    with no Spark lineage left to recompute, and the index is a lazy plan
    that the calling query computes. Persisting both cost more than it
    saved: cold, memos cleared, sf0.1, `local[4]`, 4 alternating
    fresh-process pairs, dropping the model and index memos took
    q_ann_ivf_topk 2.65–3.47 → 1.60–2.24 s and the three clustered queries
    0.9–2.2 s lower in every pair; a cold build plus one read of its index
    went 11 + 1 → 2 + 4 Spark jobs (sf0.01)."""
    import math

    from ..sources.io import spread, table_path

    path = table_path(sf_dir, "embeddings")
    # one scan, shared: the index assigns over its spread, the training
    # sample is a top-k collect that gains nothing from the spread's shuffle
    raw = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("t_id"), "label", F.col("embedding").alias("tv")
    )
    t = spread(raw, spark, path)
    n = table_rows(sf_dir, "embeddings")
    n_cells = max(4, min(4096, int(math.isqrt(n))))

    import numpy as np
    import pyarrow as pa

    sample = (
        raw.filter(_finite_vec(F.col("tv")))
        .orderBy(F.xxhash64("t_id"))
        .limit(IVF_TRAIN_PER_CELL * n_cells)
        .select("tv")
        .toArrow()
    )
    x = sample.column("tv").combine_chunks().flatten().to_numpy().astype(np.float64)
    del sample  # only the float64 copy lives through the passes
    cells, c = _ivf_lloyd(x.reshape(-1, DIM), n_cells)
    cents = spark.createDataFrame(
        pa.table({
            "cell": pa.array(cells, pa.int64()),
            "cv": pa.array(c.tolist(), pa.list_(pa.float64())),
        })
    )

    # final assignment: each vector into its top-n_assign cells. n_assign=1
    # takes the argmax cell with max_by, not a window sort: the broadcast
    # crossJoin's n×C scored rows collapse map-side in the partial
    # aggregate, so the shuffle moves n rows. Tie-break: higher cdot, then
    # lower cell — the rule `_ivf_lloyd`'s NumPy argmax trains with, kept
    # from drifting by the reference-parity test in tests/test_ivf_train.py.
    # n_assign>1 scores the whole centroid set ROW-LOCALLY against a
    # one-row broadcast array and takes top-n with array_sort + slice —
    # zero shuffle (the previous Window.partitionBy(t_id) spelling
    # hash-exchanged all n×C scored rows, ADVICE r4). Sort key (-cdot,
    # cell) ascending ≡ the old window's (cdot DESC, cell ASC) tie-break, so
    # assignments are unchanged. At 100 TB this is exactly how an IVF
    # indexer runs: each row scores C centroids locally; only the (cell, id)
    # index shuffles — and only if a downstream consumer asks it to.
    if n_assign == 1:
        order = F.struct(F.col("cdot"), (-F.col("cell")).alias("negcell"))
        index = (
            t.crossJoin(F.broadcast(cents))
            .select("t_id", "label", "tv", "cell", _dot(F.col("tv"), F.col("cv")).alias("cdot"))
            .groupBy("t_id")
            .agg(F.max_by(F.struct("cell", "t_id", "label", "tv"), order).alias("b"))
            .select("b.cell", "b.t_id", "b.label", "b.tv")
        )
        return index, cents
    cents_arr = cents.agg(F.collect_list(F.struct("cell", "cv")).alias("cs"))
    top = F.slice(
        F.array_sort(
            F.transform(
                F.col("cs"),
                lambda c: F.struct(
                    (-_dot(F.col("tv"), c["cv"])).alias("negdot"),
                    c["cell"].alias("cell"),
                ),
            )
        ),
        1,
        n_assign,
    )
    index = (
        t.crossJoin(F.broadcast(cents_arr))
        .select("t_id", "label", "tv", F.explode(top).alias("tc"))
        .select("tc.cell", "t_id", "label", "tv")
    )
    return index, cents


@query("q_ann_ivf_topk")  # rows-only: approximate recall is the contract
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 scale path #2: IVF-Flat ANN (inverted-file index with a spherical
    k-means coarse quantizer — the FAISS/ScaNN partitioning idiom): index and
    probe are DataFrame ops, training runs on the driver:

    1. train (on the driver): C = ~√n centroids, seeded DETERMINISTICALLY
       (top-C rows by xxhash64(vec_id) — a reproducible uniform sample),
       refined by IVF_ITERS Lloyd passes in NumPy over the first
       IVF_TRAIN_PER_CELL × C conforming vectors in that same hash order,
       collected with one Arrow action (the whole corpus up to n ≈ 65,536).
       Each pass assigns to the argmax-dot centroid in IVF_TRAIN_BLOCK-row
       blocks, then takes the per-cell spherical mean (L2-renormalized).
       Driver memory peaks at the sample (≤ 512 MB at the 4096-cell
       ceiling) plus one ≤ 32 MB score block; the C×64 model goes back
       to Spark as an Arrow table.
    2. index: one final assignment → (cell, t_id, tv). At 100 TB this is
       the write-once partitioned index; cells are ~√n vectors, so probe
       cost grows as √n, not n.
    3. probe: each query scores the C centroids (broadcast), keeps its
       IVF_NPROBE best cells, and equi-joins candidates on cell id —
       scanning nprobe/C of the corpus instead of all of it — then exact
       dot re-rank, top-k per query.

    Recall is corpus-dependent (clustered data probes well); declared
    rows-only, with the recall floor vs brute force enforced in
    tests/test_quality.py. Centroid count and nprobe grow with √n and the
    target recall; the plan shape (broadcast assign → equi-join probe) is
    size-invariant. The train/index stages live in build_ivf_index (shared
    with q_semdedup_clustered since round 4); index assignment is max_by
    aggregation, not a window sort — the broadcast crossJoin's n×C scored
    rows collapse map-side, so the shuffle moves n rows."""
    e = _embeddings(spark, sf_dir)
    index, cents = build_ivf_index(spark, sf_dir)

    # probe: nprobe best cells per query — the query relation is tiny
    # (|queries| × C scored rows), so a window top-nprobe costs nothing
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    w_probe = Window.partitionBy("q_id").orderBy(F.desc("cdot"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("q_id", "qv", "cell", _dot(F.col("qv"), F.col("cv")).alias("cdot"))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= IVF_NPROBE)
        .select("q_id", "qv", "cell")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("t_id"))
    return (
        index.join(F.broadcast(probes), "cell")
        .filter(F.col("q_id") != F.col("t_id"))
        .select("q_id", "t_id", "label", _dot(F.col("qv"), F.col("tv")).alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "t_id", "label", F.round("sim", 4).alias("sim"), "rank")
    )


@query(
    "q_embedding_norms",
    oracle=f"""
    WITH e AS (
        SELECT label,
               COALESCE({O_VEC_CONFORM}, FALSE) AS ok,
               -- the CASE nulls the VECTOR (not the norm): list_inner_product
               -- propagates a NULL list but THROWS on ragged/element-NULL
               -- input, so malformed vectors must never reach it even if the
               -- engine evaluates a vectorized batch eagerly
               CASE WHEN COALESCE({O_VEC_CONFORM}, FALSE)
                    THEN embedding::DOUBLE[] END AS v
        FROM embeddings
    )
    SELECT label,
           COUNT(*) FILTER (WHERE ok) AS n_vecs,
           COUNT(*) FILTER (WHERE NOT ok) AS n_malformed,
           {o_exact_sum("sqrt(list_inner_product(v, v))", 6, 4)} AS sum_norm,
           ROUND(MIN(sqrt(list_inner_product(v, v))), 6) AS min_norm,
           ROUND(MAX(sqrt(list_inner_product(v, v))), 6) AS max_norm
    FROM e
    GROUP BY label
    """,
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality stats per class: L2-norm count/sum/min/max — the
    sanity report a pipeline runs before cosine math (un-normalized or
    degenerate vectors break similarity thresholds). Norm stats run over
    the `_finite_vec` conformance population, and the report SURFACES the
    excluded rows as ``n_malformed`` per label (r8: a sanity report that
    silently drops the insane rows isn't one — and DuckDB's
    list_inner_product would throw on them anyway, so the conformance
    split is the one spelling both engines execute).

    Float discipline: the per-row norm sqrt(dot(v,v)) is BIT-identical on
    both engines (sequential left-to-right fold + correctly-rounded IEEE
    sqrt — the _dot contract), so min/max round deterministically, and the
    order-nondeterministic cross-row SUM uses exact_sum (round each norm to
    the 1e-6 grid, sum exactly in DECIMAL, round once) — the same rule the
    money aggregates follow. Scale: row-local arithmetic in codegen + one
    map-side-combinable aggregate over ≤ |labels| groups."""
    e = _embeddings(spark, sf_dir).withColumn(
        "ok", _finite_vec(F.col("embedding"))
    )
    norm = F.when(
        F.col("ok"), F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    )
    return e.groupBy("label").agg(
        F.count(F.when(F.col("ok"), 1)).alias("n_vecs"),
        F.count(F.when(~F.coalesce(F.col("ok"), F.lit(False)), 1)).alias(
            "n_malformed"
        ),
        exact_sum(norm, 6, 4).alias("sum_norm"),
        F.round(F.min(norm), 6).alias("min_norm"),
        F.round(F.max(norm), 6).alias("max_norm"),
    )


SEMDECON_TAU = 0.45  # cross-split cosine flagging threshold


def _semantic_hits_sql() -> str:
    """Oracle CTEs of :func:`semantic_hits`: ``s_e`` is the split-tagged
    conforming population and ``s_hit`` the distinct vec_id of every
    contaminated test vector."""
    return f"""
    s_e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               {o_md5_bucket("vec_id")} % 100 < 80 AS is_train
        FROM embeddings
        WHERE {O_VEC_CONFORM}
    ),
    s_hit AS (
        SELECT DISTINCT b.vec_id
        FROM s_e a JOIN s_e b ON a.is_train AND NOT b.is_train
        WHERE list_inner_product(a.v, b.v) >= {SEMDECON_TAU}
    )"""


@query(
    "q_decontaminate_semantic",
    oracle=f"""
    WITH {_semantic_hits_sql()}
    SELECT label,
           COUNT(*) AS n_test,
           COUNT(*) FILTER (WHERE vec_id IN (SELECT vec_id FROM s_hit))
               AS n_contaminated
    FROM s_e WHERE NOT is_train
    GROUP BY label
    """,
)
def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the embedding-space form of the train/test
    leakage check (the third of the published trio: exact hash, n-gram,
    embedding similarity): a held-out vector is contaminated if any
    training vector sits within cosine ≥ SEMDECON_TAU.

    Shape here: the test split (20%) is BROADCAST and the training split
    STREAMS past it (the q_ann_topk pattern — zero shuffle of the big
    side); per-pair cosine is the codegen `_dot` fold, so the ≥ τ cut is
    bit-identical cross-engine with no rounding needed. This is the EXACT
    TWIN: at 100 TB the broadcast side outgrows memory and the registered
    drop-in is q_decontaminate_semantic_clustered (within-cell candidates +
    the identical verify arithmetic and report tail — shared code, so the
    two cannot drift)."""
    tagged = _decon_tagged(spark, sf_dir)
    return _decon_report(tagged, semantic_hits(tagged))


def semantic_hits(tagged: DataFrame) -> DataFrame:
    """q_decontaminate_semantic's hit stage: ``t_id`` of every test vector
    of ``tagged`` (:func:`_decon_tagged`) within cosine ≥ SEMDECON_TAU of a
    train vector, once per such pair. Oracle twin:
    :func:`_semantic_hits_sql`."""
    train = tagged.filter("is_train").select(F.col("embedding").alias("tv"))
    test = tagged.filter(~F.col("is_train")).select(
        F.col("vec_id").alias("t_id"), F.col("embedding").alias("qv")
    )
    return (
        train.crossJoin(F.broadcast(test))
        .filter(_dot(F.col("tv"), F.col("qv")) >= SEMDECON_TAU)
        .select("t_id")
    )


def _decon_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings tagged with the deterministic 80/20 train/test split.
    Population is the `_finite_vec` conformance contract (r8) — shared by
    the exact twin, the clustered path, and the oracle's e CTE, so the
    leakage report is defined over the same vectors everywhere."""
    e = _embeddings(spark, sf_dir).filter(_finite_vec(F.col("embedding")))
    return e.select(
        "vec_id", "label", "embedding",
        (md5_bucket(F.col("vec_id")) % 100 < 80).alias("is_train"),
    )


def _decon_report(tagged: DataFrame, cont: DataFrame) -> DataFrame:
    """Shared per-label contamination report tail: ``cont`` = (t_id) ids of
    contaminated TEST vectors (any duplicates fine — deduped here). One
    definition serves the exact twin and the clustered scale path, the
    recall test's premise. The contaminated set is ≤ the test split and in
    practice tiny, so the left join broadcasts under AQE stats; at 100 TB
    it stays a plain equi-join on ids — never a pairwise stage."""
    hits = cont.distinct().withColumn("hit", F.lit(1))
    return (
        tagged.filter(~F.col("is_train"))
        .join(hits, tagged.vec_id == hits.t_id, "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.count("hit").alias("n_contaminated"),
        )
    )


@query("q_decontaminate_semantic_clustered")  # rows-only: within-cell recall
# < 1 is the published clustered algorithm's contract; contamination recall
# vs the exact twin is pytest-floored (tests/test_quality.py)
def q_decontaminate_semantic_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination, the 100 TB path (VERDICT r4 #2): candidate
    pairs come from the spherical-k-means cells (build_ivf_index, top-3
    multi-probe — the q_semdedup_clustered recipe) instead of broadcasting
    the test split, so NOTHING corpus-sized is ever broadcast and pair work
    is Σ|cell|² ≈ n·√n, linear under a fixed cell-size cap. The train/test
    tag is a row-local hash of the pair ids (no join back to the corpus);
    verify arithmetic and the per-label report tail are SHARED with the
    exact twin, so the two paths cannot drift. Cross-cell train/test pairs
    are missed by design — the accepted clustered-SemDeDup trade, floored
    by the recall test."""
    tagged = _decon_tagged(spark, sf_dir)
    pairs = _clustered_pairs(spark, sf_dir, SEMDECON_TAU)
    a_train = md5_bucket(F.col("id_a")) % 100 < 80
    b_train = md5_bucket(F.col("id_b")) % 100 < 80
    cont = (
        pairs.select("id_a", "id_b", a_train.alias("at"), b_train.alias("bt"))
        .filter(F.col("at") != F.col("bt"))
        .select(
            F.when(F.col("at"), F.col("id_b")).otherwise(F.col("id_a")).alias("t_id")
        )
    )
    return _decon_report(tagged, cont)


SEARCH_QUERIES = 5  # vec_id < 5 are the retrieval queries
SEARCH_K = 8


@query(
    "q_semantic_search",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
               FROM embeddings
               WHERE vec_id < {SEARCH_QUERIES} AND {O_VEC_CONFORM}),
    t AS (SELECT vec_id AS t_id, embedding::DOUBLE[] AS tv
          FROM embeddings WHERE {O_VEC_CONFORM}),
    hits AS (
        SELECT q_id, t_id,
               list_inner_product(qv, tv) AS sim,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY list_inner_product(qv, tv) DESC, t_id ASC) AS rn
        FROM q CROSS JOIN t
        WHERE q_id <> t_id
    )
    SELECT q_id, CAST(rn AS INTEGER) AS rank, t_id AS doc_id,
           ROUND(sim, 4) AS sim, lang, source,
           substr(text, 1, 40) AS snippet
    FROM hits JOIN documents ON doc_id = t_id
    WHERE rn <= {SEARCH_K}
    """,
)
def q_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style semantic retrieval: embedding top-k per query, then the hit
    list hydrated with document metadata (lang, source, text snippet) — the
    end-to-end search path a retrieval pipeline serves (embed → ANN → fetch).
    vec_id indexes doc_id (FIXTURES.md: both 0-based dense; embeddings ⊆
    documents at every sf).

    Scale shape: the expensive stage is the broadcast-query × streamed-target
    scan (the q_ann_topk pattern — big side never shuffles); the hydration
    join runs AFTER top-k reduces the hit list to Q×K rows, so the tiny hit
    set broadcasts into the documents scan — documents' text column never
    moves through a shuffle, and at 100 TB the ANN stage swaps to the
    LSH/IVF candidate path (q_ann_lsh_topk / q_ann_ivf_topk) with the same
    hydration tail. Population is the `_finite_vec` conformance contract
    in both twins (r8)."""
    e = _embeddings(spark, sf_dir).filter(_finite_vec(F.col("embedding")))
    d = load_table(spark, sf_dir, "documents")
    q = e.filter(F.col("vec_id") < SEARCH_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    t = e.select(F.col("vec_id").alias("t_id"), F.col("embedding").alias("tv"))
    scored = (
        t.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("t_id"))
        .select("q_id", "t_id", _dot(F.col("qv"), F.col("tv")).alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("t_id"))
    hits = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SEARCH_K)
    )
    return (
        F.broadcast(hits)
        .join(d, hits.t_id == d.doc_id)
        .select(
            "q_id",
            "rank",
            "doc_id",
            F.round("sim", 4).alias("sim"),
            "lang",
            "source",
            F.substring("text", 1, 40).alias("snippet"),
        )
    )


SEMDEDUP_TAU = 0.45  # semantic-duplicate threshold (non-trivial at every sf)


@query(
    "q_semdedup",
    oracle=f"""
    WITH t AS (
        SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS v, d.n_chars
        FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        WHERE {O_VEC_CONFORM}
    ),
    losers AS (
        SELECT DISTINCT CASE WHEN a.n_chars > b.n_chars
                               OR (a.n_chars = b.n_chars AND a.vec_id < b.vec_id)
                             THEN b.vec_id ELSE a.vec_id END AS loser
        FROM t a JOIN t b ON a.vec_id < b.vec_id
        WHERE list_inner_product(a.v, b.v) >= {SEMDEDUP_TAU}
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           COUNT(*) FILTER (WHERE vec_id IN (SELECT loser FROM losers))
               AS n_dropped
    FROM t
    GROUP BY label
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. '23): semantic deduplication with canonical
    selection — find embedding pairs above cosine SEMDEDUP_TAU and drop the
    lower-quality member of each (quality proxy: document length via
    vec_id = doc_id, ties to the lower id), i.e. a vector is dropped iff
    some semantic near-duplicate beats it. Reports per-label corpus size vs
    drops — the curation summary the pipeline logs before training.

    Shape: pair generation is the broadcast self-join on ids+vectors (the
    q_decontaminate_semantic pattern; at 100 TB the drop-in is the
    q_cosine_neardup sign-LSH candidate path — same verify arithmetic,
    same drop rule). The quality signal rides the population relation
    itself (r9 fusion, VERDICT r8 #5): ONE narrow inner join against the
    (doc_id, n_chars) projection — mirroring the oracle's t CTE exactly —
    supplies the population contract, the pair stage, AND per-pair
    quality, replacing the former two left-semi joins plus two post-pair
    hydration joins; n_chars adds 8 bytes beside the 512-byte vector each
    candidate row already carries. The drop set broadcasts back as a
    semi-join. The ≥ τ cut is the bit-identical `_dot` fold — no rounding
    discipline needed anywhere.

    Population contract (r8, resolving the bigkey/advtext twin ambiguity):
    SemDeDup's report and pair stage run over CONFORMING embeddings that
    HAVE a document row — the drop rule needs the document-length quality
    signal, so an orphan embedding cannot participate; on the driver
    corpus embeddings ⊆ documents and nothing changes. Spelled in both
    twins (the oracle's t CTE inner join + conformance WHERE; the Spark
    side's `_semdedup_base` inner join + `_finite_vec`) and shared with
    the clustered path through _semdedup_base/_semdedup_report."""
    base = _semdedup_base(spark, sf_dir)
    right = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("n_chars").alias("cb"),
    )
    pairs = (
        base.select(
            F.col("vec_id").alias("id_a"),
            F.col("v").alias("va"),
            F.col("n_chars").alias("ca"),
        )
        .crossJoin(F.broadcast(right))
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_dot(F.col("va"), F.col("vb")) >= SEMDEDUP_TAU)
        .select("id_a", "id_b", "ca", "cb")
    )
    return _semdedup_report(base.select("vec_id", "label"), _semdedup_losers(pairs))


def _semdedup_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup family's fused population relation (r9, VERDICT r8 #5):
    conforming embeddings INNER-joined with the narrow (doc_id, n_chars)
    projection → (vec_id, label, v, n_chars). One join carries the whole
    population contract (conforming AND has-document) plus the quality
    signal — the exact mirror of the oracle's t CTE, where the former
    spelling ran a left-semi for the contract and re-joined n_chars after
    the pair cut. Plain equi-join on ids: AQE broadcasts the small side at
    test scale; at 100 TB both sides stay shuffle equi-joins, never
    pairwise."""
    e = _embeddings(spark, sf_dir).filter(_finite_vec(F.col("embedding")))
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "n_chars"
    )
    return e.join(d, "vec_id").select(
        "vec_id", "label", F.col("embedding").alias("v"), "n_chars"
    )


def _semdedup_losers(pairs: DataFrame) -> DataFrame:
    """Shared canonical selection for the SemDeDup family — ONE definition
    of the drop rule (longer doc wins, ties to the lower id), so the exact
    twin and the clustered path can never drift apart (the precision-1/
    recall test's premise). ``pairs`` = (id_a, id_b, ca, cb) with
    id_a < id_b, already cosine-verified and quality-hydrated."""
    return (
        pairs.select(
            F.when(
                (F.col("ca") > F.col("cb"))
                | ((F.col("ca") == F.col("cb")) & (F.col("id_a") < F.col("id_b"))),
                F.col("id_b"),
            )
            .otherwise(F.col("id_a"))
            .alias("loser")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )


def _semdedup_report(population: DataFrame, losers: DataFrame) -> DataFrame:
    """Shared report tail: ``population`` = (vec_id, label) under the family
    contract (conforming embeddings WITH a document row — _semdedup_base);
    ``losers`` = (loser, hit) from _semdedup_losers, broadcast back as the
    drop set."""
    return (
        population.join(
            F.broadcast(losers), population.vec_id == losers.loser, "left"
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count("hit").alias("n_dropped"),
        )
    )


def _clustered_pairs(spark: SparkSession, sf_dir: str, tau: float) -> DataFrame:
    """The shared candidate stage of the clustered/at-scale semantic family
    (SemDeDup, Abbas et al. '23): verified within-cell pairs (id_a < id_b,
    exact ``sim`` = `_dot` ≥ ``tau``) from the spherical-k-means cells
    (build_ivf_index, √n cells, top-3 multi-probe indexing — recovers most
    boundary pairs for 3× index size; raised from top-2 in round 5 when the
    sf0.1 measurement showed boundary-pair loss growing with corpus size:
    pair recall 73→104 of the exact set for ~1.5× pair-stage cost, a
    constant multiplier on the linear-in-n scale shape). Cross-cell pairs
    are missed by design, the paper's accepted trade; each consumer's
    recall vs its exact twin is pytest-floored.

    Scale shape: per-cell self-equi-join on the cell id — with ~√n-sized
    cells pair work is Σ|cell|² ≈ n·√n ≪ n², and LINEAR in n under a fixed
    cell-size cap; nothing corpus-sized is broadcast anywhere. The join is
    HINTED to shuffle-hash: both sides are corpus-sized and parquet-stats
    would otherwise nominate one for broadcast."""
    index, _cents = build_ivf_index(spark, sf_dir, n_assign=3)
    left = index.select("cell", F.col("t_id").alias("id_a"), F.col("tv").alias("va"))
    right = index.select("cell", F.col("t_id").alias("id_b"), F.col("tv").alias("vb"))
    return (
        left.join(right.hint("shuffle_hash"), "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _dot(F.col("va"), F.col("vb")).alias("sim"))
        .filter(F.col("sim") >= tau)
        .dropDuplicates(["id_a", "id_b"])  # multi-probe cells can emit a pair twice
    )


@query("q_semdedup_clustered")  # rows-only: within-cluster recall < 1 is the
# published algorithm's contract; recall vs the exact twin is pytest-floored
def q_semdedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup as PUBLISHED (Abbas et al. '23) — the 100 TB path that
    q_semdedup's exact broadcast twin stands in for at test scale: cluster
    the embeddings with the spherical k-means coarse quantizer, compare
    pairs WITHIN a cell only (see _clustered_pairs — the candidate stage
    shared with the clustered decontamination and cross-lingual paths) and
    drop the lower-quality member (document length, ties to lower id).
    The within-cell pairs arrive without the quality signal (the index
    carries vectors, not documents), so this path keeps the two narrow
    post-pair hydration joins the exact twin fused away (r9); the
    population and drop rule are the shared _semdedup_base/_semdedup_losers
    definitions, so the twins cannot drift. Output shape matches
    q_semdedup (label, n_vecs, n_dropped)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    qa = d.select(F.col("doc_id").alias("id_a"), F.col("n_chars").alias("ca"))
    qb = d.select(F.col("doc_id").alias("id_b"), F.col("n_chars").alias("cb"))
    pairs = (
        F.broadcast(
            _clustered_pairs(spark, sf_dir, SEMDEDUP_TAU).select("id_a", "id_b")
        )
        .join(qa, "id_a")
        .join(qb, "id_b")
    )
    base = _semdedup_base(spark, sf_dir)
    return _semdedup_report(base.select("vec_id", "label"), _semdedup_losers(pairs))


@query(
    "q_cross_lingual_neardup",
    oracle=f"""
    WITH t AS (
        SELECT e.vec_id, d.lang, e.embedding::DOUBLE[] AS v
        FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        WHERE {O_VEC_CONFORM}
    ),
    pairs AS (
        SELECT LEAST(a.lang, b.lang) AS lang_a,
               GREATEST(a.lang, b.lang) AS lang_b,
               list_inner_product(a.v, b.v) AS sim
        FROM t a JOIN t b ON a.vec_id < b.vec_id
        WHERE list_inner_product(a.v, b.v) >= {SEMDEDUP_TAU}
          AND a.lang <> b.lang
    )
    SELECT lang_a, lang_b,
           COUNT(*) AS n_pairs,
           ROUND(MAX(sim), 4) AS max_sim
    FROM pairs
    GROUP BY lang_a, lang_b
    """,
)
def q_cross_lingual_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual near-duplicate report — the bitext/translation-leak
    check a multilingual corpus build runs: embedding pairs above cosine τ
    whose documents carry DIFFERENT language tags, summarized per
    (unordered) language pair. High counts flag either machine-translated
    duplicates or a broken language-ID stage.

    Shape: the pair stage is the q_semdedup broadcast twin — the EXACT TWIN
    of q_cross_lingual_neardup_clustered, which swaps in the within-cell
    candidate stage at 100 TB; language hydration joins the narrow (doc_id,
    lang) projection AFTER the cosine cut (shared tail — the two paths
    cannot drift); MAX over bit-identical dots needs no rounding discipline
    (rounded for display only). Pair population is the `_finite_vec`
    conformance contract in both twins (r8); doc presence is enforced by
    the language-hydration inner join on both sides."""
    e = _embeddings(spark, sf_dir).filter(_finite_vec(F.col("embedding")))
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    t = e.select("vec_id", F.col("embedding").alias("v"))
    right = t.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    pairs = (
        t.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
        .crossJoin(F.broadcast(right))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _dot(F.col("va"), F.col("vb")).alias("sim"))
        .filter(F.col("sim") >= SEMDEDUP_TAU)
    )
    return _cross_lingual_report(d, pairs)


def _cross_lingual_report(d: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared language-hydration + per-language-pair report tail: ``pairs``
    = (id_a, id_b, sim) already cosine-verified. The narrow (doc_id, lang)
    projection joins the verified pair set on plain id equi-joins — at test
    scale AQE broadcasts the tiny pair side from runtime stats; at 100 TB
    both stay shuffle equi-joins on ids, never pairwise. One definition
    serves the exact twin and the clustered path (the recall test's
    premise)."""
    la = d.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("la"))
    lb = d.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("lb"))
    return (
        pairs.join(la, "id_a")
        .join(lb, "id_b")
        .filter(F.col("la") != F.col("lb"))
        .select(
            F.least("la", "lb").alias("lang_a"),
            F.greatest("la", "lb").alias("lang_b"),
            "sim",
        )
        .groupBy("lang_a", "lang_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.max("sim"), 4).alias("max_sim"),
        )
    )


@query("q_cross_lingual_neardup_clustered")  # rows-only: within-cell recall
# < 1 is the clustered contract; pair recall vs the exact twin is
# pytest-floored (tests/test_quality.py)
def q_cross_lingual_neardup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual near-duplicate report, the 100 TB path (VERDICT r4 #3):
    pair generation via the shared within-cell candidate stage
    (_clustered_pairs — spherical-k-means cells, top-3 multi-probe, exact
    `_dot` verify) instead of the all-pairs broadcast crossJoin, then the
    SAME language-hydration tail as the exact twin. Nothing corpus-sized is
    broadcast; pair work is Σ|cell|² ≈ n·√n. Cross-cell pairs are missed by
    design — floored by the recall test."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pairs = _clustered_pairs(spark, sf_dir, SEMDEDUP_TAU)
    return _cross_lingual_report(d, pairs)


@query(
    "q_embedding_quantize",
    oracle=f"""
    WITH e AS (
        SELECT label, embedding::DOUBLE[] AS v
        FROM embeddings WHERE {O_VEC_CONFORM}
    ),
    rng AS (
        SELECT label, v, list_min(v) AS mn, list_max(v) AS mx,
               list_max(v) - list_min(v) AS r
        FROM e
    ),
    err AS (
        SELECT label, r,
               list_transform(v, x -> abs(x - (mn +
                   (CASE WHEN r > 0.0
                         THEN least(floor((x - mn) * 255.0 / r), 255.0)
                         ELSE 0.0 END) * r / 255.0))) AS errs
        FROM rng
    ),
    per_row AS (
        SELECT label, r,
               list_inner_product(errs, list_transform(errs, x -> 1.0))
                   / {float(DIM)} AS mean_err
        FROM err
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           {o_exact_sum("mean_err", 9, 6)} AS sum_mean_err,
           ROUND(MAX(mean_err), 9) AS max_mean_err,
           {o_exact_sum("r", 6, 4)} AS sum_range
    FROM per_row
    GROUP BY label
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector INT8 scalar quantization with a reconstruction-error
    report — the embedding-compression op a 100 TB vector lake runs
    before deciding storage precision (4× smaller than float32; the
    report says what cosine math would lose). Codes are
    ``floor((x − min)·255/(max − min))`` clamped to [0, 255] (constant
    vectors — including the conforming all-zero rows — quantize to code
    0 with zero error), reconstruction is the affine inverse, and the
    report aggregates per-label: vector count, exact-decimal sum of
    per-vector mean |error| (each a bit-identical 64-term sequential
    fold ÷ 2⁶ — an EXACT power-of-two division), max mean error, and the
    sum of quantization ranges.

    Float discipline: every per-element expression is an identically
    spelled chain of correctly-rounded IEEE ops on DOUBLE (upcast before
    min/max so both engines reduce the same values); the per-row fold is
    the `_dot` left-fold contract (Spark ``aggregate`` ≡ DuckDB
    ``list_inner_product`` against a ones vector); cross-row sums use
    exact_sum's grid-round → exact DECIMAL rule. Spark's floor returns
    BIGINT where DuckDB's returns DOUBLE — both are exact integers
    ≤ 255, so the re-cast to DOUBLE is value-identical. Scale: entirely
    row-local arithmetic inside codegen + one map-side-combinable
    aggregate over ≤ |labels| groups; nothing shuffles but the tiny
    final groups."""
    e = _embeddings(spark, sf_dir).filter(_finite_vec(F.col("embedding")))
    v = F.transform("embedding", lambda x: x.cast("double"))
    w = e.select("label", v.alias("v")).select(
        "label", "v",
        F.array_min("v").alias("mn"),
        (F.array_max("v") - F.array_min("v")).alias("r"),
    )
    def recon_err(x):
        code = F.when(
            F.col("r") > 0.0,
            F.least(
                F.floor((x - F.col("mn")) * 255.0 / F.col("r")).cast("double"),
                F.lit(255.0),
            ),
        ).otherwise(F.lit(0.0))
        return F.abs(x - (F.col("mn") + code * F.col("r") / 255.0))

    errs = F.transform("v", recon_err)
    per_row = w.select(
        "label", "r",
        (
            F.aggregate(errs, F.lit(0.0), lambda acc, x: acc + x) / float(DIM)
        ).alias("mean_err"),
    )
    return per_row.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        exact_sum(F.col("mean_err"), 9, 6).alias("sum_mean_err"),
        F.round(F.max("mean_err"), 9).alias("max_mean_err"),
        exact_sum(F.col("r"), 6, 4).alias("sum_range"),
    )


@query(
    "q_quantized_search",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_min(embedding::DOUBLE[]) AS mn,
               list_max(embedding::DOUBLE[]) - list_min(embedding::DOUBLE[])
                   AS r
        FROM embeddings WHERE {{O_VEC_CONFORM}}
    ),
    w AS (
        SELECT vec_id, v,
               list_transform(v, x -> mn +
                   (CASE WHEN r > 0.0
                         THEN least(floor((x - mn) * 255.0 / r), 255.0)
                         ELSE 0.0 END) * r / 255.0) AS vq
        FROM e
    ),
    q AS (SELECT vec_id AS q_id, v AS qv, vq AS qvq FROM w
          WHERE vec_id < {{SEARCH_QUERIES}}),
    t AS (SELECT vec_id AS t_id, v AS tv, vq AS tvq FROM w),
    ranked AS (
        SELECT q_id, t_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY list_inner_product(qv, tv) DESC, t_id ASC)
                   AS rank_e,
               ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY list_inner_product(qvq, tvq) DESC, t_id ASC)
                   AS rank_q
        FROM q CROSS JOIN t
        WHERE q_id <> t_id
    )
    SELECT q_id,
           COUNT(*) FILTER (WHERE rank_e <= {{SEARCH_K}}
                              AND rank_q <= {{SEARCH_K}}) AS n_overlap,
           CAST(COUNT(*) FILTER (WHERE rank_e <= {{SEARCH_K}}
                                   AND rank_q <= {{SEARCH_K}}) AS DOUBLE)
               / CAST(COUNT(*) FILTER (WHERE rank_e <= {{SEARCH_K}})
                      AS DOUBLE) AS recall_at_k,
           MAX(CASE WHEN rank_e = 1 AND rank_q = 1 THEN 1 ELSE 0 END)
               AS top1_match
    FROM ranked
    WHERE rank_e <= {{SEARCH_K}} OR rank_q <= {{SEARCH_K}}
    GROUP BY q_id
    """.format(
        O_VEC_CONFORM=O_VEC_CONFORM,
        SEARCH_QUERIES=SEARCH_QUERIES,
        SEARCH_K=SEARCH_K,
    ),
)
def q_quantized_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-vs-INT8-quantized retrieval agreement — the decision report
    q_embedding_quantize exists to inform (VERDICT r10 #7): re-run
    q_semantic_search's top-k over the quantize→reconstruct codes and
    report, per query, how much of the exact top-k the quantized index
    preserves (n_overlap, recall@k) and whether the top-1 hit
    survives. A vector lake reads this before committing to 4×-smaller
    INT8 storage.

    Full hash oracle (stronger than the rows-only+recall-floor form
    VERDICT sketched): the quantization is deterministic row-local affine
    arithmetic (the q_embedding_quantize IEEE chains, spelled identically
    here), both sims are `_dot` left-folds ≡ DuckDB list_inner_product,
    rank ties break on t_id, and the outputs are exact ints plus one
    correctly-rounded int division — nothing engine-specific anywhere.
    recall@k divides by the EXACT arm's realized list length
    COUNT(rank_e ≤ k) = min(k, candidates) rather than the constant k
    (ADVICE r11): on a corpus with fewer than k+1 conforming vectors the
    top-k lists are shorter than k, and a fixed denominator would cap
    recall below 1.0 even under perfect agreement. Both arms rank the
    SAME candidate set, so their list lengths agree and the denominator
    is symmetric; on conforming corpora (candidates ≥ k) it equals k and
    the values are byte-identical to the fixed-denominator form.

    Scale shape: ONE pass over the corpus computes both similarities (the
    broadcast-5-queries × streamed-targets q_ann_topk pattern — the
    corpus side never shuffles in the scoring stage); both rank windows
    share the q_id partitioning, and rows are pruned to the top-k union
    before the tiny per-query aggregate. At 100 TB the exact arm swaps to
    the IVF/LSH candidate path like q_semantic_search's; the quantized
    arm is the same plan over reconstructed arrays (reconstruction is
    row-local codegen, no extra scan)."""
    e = _embeddings(spark, sf_dir).filter(_finite_vec(F.col("embedding")))
    v = F.transform("embedding", lambda x: x.cast("double"))
    w = e.select(F.col("vec_id"), v.alias("v")).select(
        "vec_id", "v",
        F.array_min("v").alias("mn"),
        (F.array_max("v") - F.array_min("v")).alias("r"),
    )

    def recon(x):
        code = F.when(
            F.col("r") > 0.0,
            F.least(
                F.floor((x - F.col("mn")) * 255.0 / F.col("r")).cast("double"),
                F.lit(255.0),
            ),
        ).otherwise(F.lit(0.0))
        return F.col("mn") + code * F.col("r") / 255.0

    wq = w.select("vec_id", "v", F.transform("v", recon).alias("vq"))
    q = wq.filter(F.col("vec_id") < SEARCH_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("vq").alias("qvq"),
    )
    t = wq.select(
        F.col("vec_id").alias("t_id"),
        F.col("v").alias("tv"),
        F.col("vq").alias("tvq"),
    )
    scored = (
        t.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("t_id"))
        .select(
            "q_id", "t_id",
            _dot(F.col("qv"), F.col("tv")).alias("sim_e"),
            _dot(F.col("qvq"), F.col("tvq")).alias("sim_q"),
        )
    )
    w_e = Window.partitionBy("q_id").orderBy(F.desc("sim_e"), F.asc("t_id"))
    w_q = Window.partitionBy("q_id").orderBy(F.desc("sim_q"), F.asc("t_id"))
    k = F.lit(SEARCH_K)
    ranked = scored.select(
        "q_id", "t_id",
        F.row_number().over(w_e).alias("rank_e"),
        F.row_number().over(w_q).alias("rank_q"),
    )
    both = (F.col("rank_e") <= k) & (F.col("rank_q") <= k)
    return (
        ranked.filter((F.col("rank_e") <= k) | (F.col("rank_q") <= k))
        .groupBy("q_id")
        .agg(
            F.count(F.when(both, 1)).alias("n_overlap"),
            (
                F.count(F.when(both, 1)).cast("double")
                / F.count(F.when(F.col("rank_e") <= k, 1)).cast("double")
            ).alias("recall_at_k"),
            F.max(
                F.when(
                    (F.col("rank_e") == 1) & (F.col("rank_q") == 1), 1
                ).otherwise(0)
            ).alias("top1_match"),
        )
    )
