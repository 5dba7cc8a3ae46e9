"""Sampling operators — the training-data-pipeline selection verbs
(BASELINE.json north star; /root/reference is empty — SURVEY.md §0).

Deterministic-by-construction designs: engine RNG sampling (df.sample) is
seed-stable within Spark but can never hash-match another engine, so the
oracle-checked operators here sample by HASH of a stable key — the standard
reproducible-pipeline idiom (a row's membership depends only on its key, not
on partitioning, engine, or row order). That also makes samples STABLE under
re-runs and incremental arrivals at 100 TB — exactly why production data
pipelines prefer hash-sampling over RNG sampling.

Scale notes: hash-sampling is a map-side filter (no shuffle, pushdown-safe);
stratified proportions need one tiny per-class aggregate, never a global
sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import (
    N_CHARS_MAX,
    exact_sum,
    md5_bucket,
    o_exact_sum,
    o_md5_bucket,
    query,
    rnd,
)
from ..sources.io import load_spread, load_table


@query(
    "q_hash_sample",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE {o_md5_bucket("o_orderkey")} % 100 < 10
    """,
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% reproducible sample by key hash. Engine RNGs can't cross-check,
    so membership uses a PORTABLE hash both engines implement identically
    (md5, F8): first 6 hex digits mod 100 — same rows selected on any
    engine, any partitioning, any row order."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(md5_bucket(F.col("o_orderkey")) % 100 < 10).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@query(
    "q_train_test_split",
    oracle=f"""
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars_ok) AS BIGINT) AS total_chars
    FROM (
        SELECT CASE WHEN {o_md5_bucket("doc_id")} % 100 < 80
                    THEN 'train' ELSE 'test' END AS split,
               CASE WHEN n_chars BETWEEN 0 AND {N_CHARS_MAX}
                    THEN n_chars END AS n_chars_ok
        FROM documents
    )
    GROUP BY split
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/20 train-test split by document-id hash — the split a
    row lands in never changes as the corpus grows (hash membership, not
    position), the property training pipelines need for incremental data.
    Every doc belongs to a split regardless of its stats health, but the
    char total sums the SANITIZED column (NULL outside [0, N_CHARS_MAX],
    skipped by SUM identically in both engines — r7 stats-axis sweep: one
    Long.MAX sentinel threw the ANSI SUM while DuckDB's int128 SUM
    diverged past it)."""
    d = load_table(spark, sf_dir, "documents")
    split = F.when(md5_bucket(F.col("doc_id")) % 100 < 80, "train").otherwise("test")
    n_chars_ok = F.when(
        (F.col("n_chars") >= 0) & (F.col("n_chars") <= N_CHARS_MAX),
        F.col("n_chars"),
    )
    return d.select(split.alias("split"), n_chars_ok.alias("n_chars_ok")).groupBy(
        "split"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars_ok").cast("bigint").alias("total_chars"),
    )


def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-data variant: EXACT 20%-per-stratum selection by ranking each
    stratum on a key hash and cutting at ceil(0.2·n). One full sort per
    stratum — parallelism equals the number of strata (5 languages → 5
    tasks), a real ceiling at 100 TB, which is why the REGISTERED
    q_stratified_sample uses hash-threshold membership instead (VERDICT r3
    #4). Kept as the documented exact-count form for corpora that fit a
    per-stratum sort."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("lang")
    ranked = d.select(
        "lang",
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_lang"),
    )
    return (
        ranked.filter(F.col("rn") <= F.ceil(0.2 * F.col("n_lang")).cast("bigint"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.min("n_lang").alias("n_total"))
    )


@query(
    "q_stratified_sample",
    oracle=f"""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
    ), m AS (
        SELECT MIN(n_lang) AS min_n FROM counts
    ), rated AS (
        SELECT lang, n_lang,
               CAST(floor(10000.0 * min_n / n_lang) AS BIGINT) AS cut
        FROM counts, m
    )
    SELECT d.lang,
           COUNT(*) FILTER (
               WHERE {o_md5_bucket("d.doc_id")} % 10000 < cut) AS n_sampled,
           MIN(n_lang) AS n_total
    FROM documents d JOIN rated ON d.lang = rated.lang
    GROUP BY d.lang
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced stratified sampling, 100 TB shape: downsample every
    language stratum to ~the smallest class's size (rate = min_n/n_lang,
    the class-balancing special case of q_mixture_sample's rate machinery).
    Per-class rates come from one TINY aggregate broadcast back; membership
    is the portable md5-bucket hash — a map-side filter, stable under
    re-runs and incremental arrivals, with NO per-stratum sort anywhere
    (the old window form's parallelism equaled the stratum count — see
    stratified_sample_exact). Output per language: docs selected vs
    available."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    min_n = counts.agg(F.min("n_lang").alias("min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        "lang",
        "n_lang",
        F.floor(10000.0 * F.col("min_n") / F.col("n_lang"))
        .cast("bigint")
        .alias("cut"),
    )
    bucket = md5_bucket(F.col("doc_id")) % 10000
    return (
        d.select("lang", "doc_id")
        .join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.when(bucket < F.col("cut"), 1)).alias("n_sampled"),
            F.min("n_lang").alias("n_total"),
        )
    )


PACK_BUDGET = 2048  # token budget per packed training batch
PACK_SHARD = 4096  # doc_id span per packing shard: bounds any one window
# task to ≤ PACK_SHARD docs regardless of corpus size, so packing
# parallelism grows WITH the corpus (n/PACK_SHARD shards per source)
# instead of being pinned at the source cardinality (20) — VERDICT r3 #3.


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT source, CAST(floor(doc_id / {PACK_SHARD}) AS BIGINT) AS shard,
               doc_id, len(string_split(text, ' ')) AS tok
        FROM documents
    ), runs AS (
        SELECT source, shard, tok,
               SUM(tok) OVER (PARTITION BY source, shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM toks
    )
    SELECT source, shard,
           CAST(floor((cum - tok) / {PACK_BUDGET}) AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS bin_tokens
    FROM runs
    GROUP BY source, shard, bin
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: greedy running-total packing of
    documents into ~PACK_BUDGET-token bins (a document goes to the bin its
    running-total START offset falls in, so every bin holds ≤ budget +
    max_doc_tokens − 1 — the standard streaming packing guarantee).

    The window partitions by the COMPOSITE shard key (source,
    floor(doc_id/PACK_SHARD)): each task sorts at most PACK_SHARD docs no
    matter how big the corpus is, and shard count — hence parallelism —
    scales linearly with corpus size. Partitioning by source alone capped
    parallelism at 20 single-task sorts of corpus/20 rows each (the round-3
    scale ceiling). Packing restarts at shard boundaries, which costs at
    most one under-full bin per shard — the price of unbounded parallelism.
    Output is one row per (source, shard, bin) — deterministic integers,
    hash-stable."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    tok = F.size(F.split("text", " "))
    shard = F.floor(F.col("doc_id") / PACK_SHARD).cast("bigint")
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = d.select(
        "source", shard.alias("shard"), "doc_id", tok.alias("tok")
    ).withColumn("cum", F.sum("tok").over(w))
    bin_ = F.floor((F.col("cum") - F.col("tok")) / PACK_BUDGET)
    return (
        runs.select("source", "shard", bin_.alias("bin"), "tok")
        .groupBy("source", "shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").cast("bigint").alias("bin_tokens"),
        )
    )


# target language mixture for q_mixture_sample: the training-mix weights a
# data pipeline dials in (en-heavy, rest uniform)
MIX_WEIGHTS = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}
MIX_TARGET_FRAC = 0.5  # sample down to half the corpus, re-weighted


def _mix_case_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{k}' THEN {w}" for k, w in MIX_WEIGHTS.items()
    )
    return f"CASE {whens} ELSE 0.0 END"


@query(
    "q_mixture_sample",
    oracle=f"""
    WITH stats AS (
        SELECT lang, doc_id,
               COUNT(*) OVER (PARTITION BY lang) AS n_lang,
               COUNT(*) OVER () AS n_total
        FROM documents WHERE lang IS NOT NULL
    ), rated AS (
        SELECT lang, doc_id, n_lang,
               least(1.0, ({_mix_case_sql()}) * {MIX_TARGET_FRAC} * n_total / n_lang) AS rate
        FROM stats
    )
    SELECT lang,
           COUNT(*) FILTER (WHERE {o_md5_bucket("doc_id")} % 10000
                                  < CAST(floor(rate * 10000) AS BIGINT)) AS n_selected,
           MIN(n_lang) AS n_lang
    FROM rated
    GROUP BY lang
    """,
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction: re-weight the corpus to a target language
    mixture (MIX_WEIGHTS) at MIX_TARGET_FRAC of total size. Per-language
    rate = min(1, w·T/n_lang) from one tiny per-class aggregate; membership
    is the portable md5-bucket hash (reproducible on any engine, stable
    under re-runs and incremental arrivals — rows never flip in or out as
    unrelated data lands). Map-side filter after a broadcast of per-class
    rates: no shuffle of the corpus at any scale. Output: per language, how
    many docs the mix selects vs available. Unlabelled (NULL-lang) docs are
    excluded in both twins (r7 degraded-twin gate: a language mixture is
    defined over labelled docs — and a NULL group survives SQL GROUP BY but
    can never equi-join the Spark rate table, so the twins diverged)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())

    expr = F.lit(0.0)
    for k, w in MIX_WEIGHTS.items():
        expr = F.when(F.col("lang") == k, F.lit(w)).otherwise(expr)
    # per-class stats as TINY aggregates broadcast back — never a global
    # window (COUNT(*) OVER () would single-partition the corpus at scale)
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    total = d.agg(F.count(F.lit(1)).alias("n_total"))
    rate = F.least(
        F.lit(1.0),
        expr * F.lit(MIX_TARGET_FRAC) * F.col("n_total") / F.col("n_lang"),
    )
    rates = counts.crossJoin(F.broadcast(total)).select(
        "lang", "n_lang", F.floor(rate * 10000).cast("bigint").alias("cut")
    )
    bucket = md5_bucket(F.col("doc_id")) % 10000
    return (
        d.select("lang", "doc_id")
        .join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.when(bucket < F.col("cut"), 1)).alias("n_selected"),
            F.min("n_lang").alias("n_lang"),
        )
    )


def exact_hits(d: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """q_decontaminate's hit stage: every test-split row of ``d`` (its
    ``carry`` columns kept), with ``hit`` = 1 where the md5 of its text
    equals a train doc's and NULL elsewhere. Oracle twin:
    :func:`_exact_hits_sql`."""
    tagged = d.select(
        *carry,
        F.md5("text").alias("h"),
        (md5_bucket(F.col("doc_id")) % 100 < 80).alias("is_train"),
    )
    train_h = tagged.filter("is_train").select("h").distinct()
    test = tagged.filter(~F.col("is_train"))
    return test.join(train_h.withColumn("hit", F.lit(1)), "h", "left")


def _exact_hits_sql() -> str:
    """Oracle CTEs of :func:`exact_hits`: ``x_test`` holds every test-split
    doc (doc_id, lang) with ``x_hit`` true where its text hash matches a
    train doc's."""
    return f"""
    x_split AS (
        SELECT doc_id, lang, md5(text) AS h,
               {o_md5_bucket("doc_id")} % 100 < 80 AS is_train
        FROM documents
    ),
    x_test AS (
        SELECT doc_id, lang, h IN (SELECT h FROM x_split WHERE is_train) AS x_hit
        FROM x_split WHERE NOT is_train
    )"""


@query(
    "q_decontaminate",
    oracle=f"""
    WITH {_exact_hits_sql()}
    SELECT lang,
           COUNT(*) AS n_test,
           COUNT(*) FILTER (WHERE x_hit) AS n_contaminated
    FROM x_test
    GROUP BY lang
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination report — the leakage check every training
    pipeline runs before evaluation: how many held-out (test-split) docs
    share an exact content hash with any training-split doc. Splits are the
    same portable doc_id-hash membership as q_train_test_split; content
    identity is md5(text) (the q_dedup_hash key).

    Scale shape: one shuffle on the 16-byte content hash (distinct train
    hashes, then a hash semi-join tagging test docs) — both sides shrink to
    (hash, lang) long before the shuffle; no text ever moves. At 100 TB
    this is exactly the n-gram/exact-match decontamination join from
    published LLM data pipelines, minus the n-gram generalization
    (q_ngram_jaccard's capped posting lists provide that form)."""
    d = load_table(spark, sf_dir, "documents")
    return exact_hits(d, ("lang",)).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.count("hit").alias("n_contaminated"),
    )


WSAMPLE_K = 64  # weighted-sample size


@query(
    "q_weighted_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM (
        SELECT doc_id, lang, n_chars,
               pow(({o_md5_bucket("doc_id")} + 1.0)
                       / 16777217.0,
                   1.0 / n_chars) AS priority
        FROM documents
        WHERE n_chars > 0
    )
    ORDER BY priority DESC, doc_id ASC
    LIMIT {WSAMPLE_K}
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis '06):
    each doc draws priority u^(1/w) from a uniform u and weight w (its
    char length); the global top-k by priority IS a w-weighted sample —
    the standard one-pass distributed weighted-sampling algorithm.

    Determinism: u comes from the portable md5 bucket ((h+1)/2²⁴, never
    0), so the sample is reproducible on any engine/partitioning — the
    hash-sampling discipline extended to weights. pow/exp libm ulp
    differences cannot flip the top-k boundary here: adjacent priorities
    differ by ≫ 1e-12 on this corpus while libm disagreement is ≤ 1e-16
    relative (doc_id tie-break guards exact ties). Scale shape: row-local
    priority + global top-k (TakeOrderedAndProject — per-partition heaps,
    no full sort, no shuffle of the corpus)."""
    # weight 0 (empty doc) can never be drawn in Efraimidis-Spirakis —
    # and 1/w would DIVIDE_BY_ZERO under ANSI mode — so zero-weight rows
    # are excluded up front (oracle twin carries the same WHERE)
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (md5_bucket(F.col("doc_id")) + F.lit(1.0)) / F.lit(16777217.0)
    priority = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    return (
        d.select("doc_id", "lang", "n_chars", priority.alias("priority"))
        .orderBy(F.col("priority").desc(), F.col("doc_id").asc())
        .limit(WSAMPLE_K)
        .select("doc_id", "lang", "n_chars")
    )


# Temperature-flattened language mixture (the mT5/UL2 p^alpha recipe with
# alpha = 0.5): low-resource languages are up-weighted relative to their
# natural share. alpha is fixed at 1/2 so the re-weighting is sqrt(p) —
# IEEE sqrt is CORRECTLY ROUNDED on both engines (unlike pow, which is only
# ~1-ulp), so every per-language rate below is bit-identical cross-engine
# with no rounding discipline needed.
TEMP_LANGS = ("de", "en", "es", "fr", "zh")  # fixture domain, FIXTURES.md
TEMP_FRAC = 0.5  # sample down to half the corpus, temperature-re-weighted


def _temp_oracle() -> str:
    filt = ",\n               ".join(
        f"COUNT(*) FILTER (WHERE lang = '{k}') AS n_{k}" for k in TEMP_LANGS
    )
    w = lambda k: f"sqrt(CAST(w.n_{k} AS DOUBLE) / w.n_total)"
    z = w(TEMP_LANGS[0])
    for k in TEMP_LANGS[1:]:
        z = f"({z} + {w(k)})"
    return f"""
    WITH wide AS (
        SELECT COUNT(*) AS n_total,
               {filt}
        FROM documents
    ), counts AS (
        SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
    ), rates AS (
        SELECT c.lang, c.n_lang,
               CAST(floor(least(1.0,
                   (({TEMP_FRAC} * CAST(w.n_total AS DOUBLE))
                    * (sqrt(CAST(c.n_lang AS DOUBLE) / w.n_total) / {z}))
                   / c.n_lang) * 10000.0) AS BIGINT) AS cut_bp
        FROM counts c CROSS JOIN wide w
    )
    SELECT d.lang,
           MIN(r.n_lang) AS n_lang,
           MIN(r.cut_bp) AS cut_bp,
           COUNT(*) FILTER (
               WHERE {o_md5_bucket("d.doc_id")} % 10000 < r.cut_bp) AS n_selected
    FROM documents d JOIN rates r ON d.lang = r.lang
    GROUP BY d.lang
    """


@query("q_temperature_sample", oracle=_temp_oracle())
def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling — rebalance the language mixture toward
    p_l^alpha / Z (alpha = 0.5) at TEMP_FRAC of corpus size, the standard
    multilingual-pretraining re-weighting (mT5's temperature T = 1/alpha = 2).
    Per-language rate = min(1, frac·N·(sqrt(p_l)/Z)/n_l) from one tiny
    conditional aggregate; membership is the portable md5-bucket hash.

    Float discipline without rounding: alpha is fixed at 1/2 so the only
    non-rational op is sqrt (correctly rounded per IEEE 754 on both JVM and
    DuckDB), every other op is a correctly-rounded +,*,/ with a FIXED
    parenthesization (Z folds over TEMP_LANGS alphabetically on both sides),
    so the rates — and hence floor(rate·1e4) — are bit-identical
    cross-engine. Scale shape: one conditional aggregate (1 row), one
    per-class aggregate (5 rows), broadcast back, map-side membership filter
    — the corpus never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    wide = d.agg(
        F.count(F.lit(1)).alias("n_total"),
        *[
            F.count(F.when(F.col("lang") == k, 1)).alias(f"n_{k}")
            for k in TEMP_LANGS
        ],
    )
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))

    def w(k: str):
        return F.sqrt(F.col(f"n_{k}").cast("double") / F.col("n_total"))

    z = w(TEMP_LANGS[0])
    for k in TEMP_LANGS[1:]:
        z = z + w(k)
    rate = F.least(
        F.lit(1.0),
        (
            (F.lit(TEMP_FRAC) * F.col("n_total").cast("double"))
            * (F.sqrt(F.col("n_lang").cast("double") / F.col("n_total")) / z)
        )
        / F.col("n_lang"),
    )
    rates = (
        counts.crossJoin(F.broadcast(wide))
        .select(
            "lang",
            "n_lang",
            F.floor(rate * 10000.0).cast("bigint").alias("cut_bp"),
        )
    )
    bucket = md5_bucket(F.col("doc_id")) % 10000
    return (
        d.select("lang", "doc_id")
        .join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.min("n_lang").alias("n_lang"),
            F.min("cut_bp").alias("cut_bp"),
            F.count(F.when(bucket < F.col("cut_bp"), 1)).alias("n_selected"),
        )
    )


TOKEN_BUDGET = 20_000  # per-language token budget for curation pruning


@query(
    "q_token_budget_prune",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang, n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    hist AS (
        SELECT lang, n_chars, SUM(n_tokens) AS bucket_tokens
        FROM feats GROUP BY lang, n_chars
    ),
    cum AS (
        SELECT lang, n_chars,
               SUM(bucket_tokens) OVER (
                   PARTITION BY lang ORDER BY n_chars DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM hist
    ),
    thresh AS (
        SELECT lang, MIN(n_chars) AS cut
        FROM cum WHERE cum_tokens <= {TOKEN_BUDGET}
        GROUP BY lang
    ),
    kept AS (
        SELECT f.lang,
               COUNT(*) AS n_kept,
               CAST(SUM(f.n_tokens) AS BIGINT) AS tokens_kept,
               MIN(t.cut) AS quality_cut
        FROM feats f JOIN thresh t ON f.lang = t.lang
        WHERE f.n_chars >= t.cut
        GROUP BY f.lang
    )
    SELECT l.lang,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.tokens_kept, 0) AS tokens_kept,
           k.quality_cut
    FROM (SELECT DISTINCT lang FROM feats) l
    LEFT JOIN kept k ON l.lang = k.lang
    """,
)
def q_token_budget_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation — keep each language's highest-quality documents
    until a per-language token budget fills (the data-pruning step of a
    fixed-compute pretraining run; quality proxy = document length). The
    100 TB-safe shape: NO per-class sort of the corpus — a (lang, quality)
    HISTOGRAM (tiny: |langs| × |distinct quality| rows) is aggregated
    map-side, the cumulative-from-the-top walk and threshold pick run on
    that tiny relation, and the cut broadcasts back as a map-side filter.
    Boundary buckets are all-or-nothing (never split), so the selection is
    a pure function of the histogram — deterministic on any engine or
    partitioning. A language whose single best bucket already exceeds the
    budget keeps NOTHING — it still appears in the report with zero counts
    and a NULL cut (silently vanishing would under-describe the corpus).
    Integer arithmetic throughout; no float discipline needed."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    hist = feats.groupBy("lang", "n_chars").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum_tokens", F.sum("bucket_tokens").over(w))
    thresh = (
        cum.filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .groupBy("lang")
        .agg(F.min("n_chars").alias("cut"))
    )
    kept = (
        feats.join(F.broadcast(thresh), "lang")
        .filter(F.col("n_chars") >= F.col("cut"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
            F.min("cut").alias("quality_cut"),
        )
    )
    langs = feats.select("lang").distinct()
    return langs.join(F.broadcast(kept), "lang", "left").select(
        "lang",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("tokens_kept", F.lit(0).cast("bigint")).alias("tokens_kept"),
        "quality_cut",
    )


def _decon_report_oracle() -> str:
    # assembled from the three drill-downs' own oracle CTE builders, so the
    # composite cannot drift from the per-method twins
    from .dedup import _ngram_hits_sql
    from .vectors import _semantic_hits_sql

    g_hit = "doc_id IN (SELECT doc_id FROM g_hit)"
    s_hit = "doc_id IN (SELECT vec_id FROM s_hit)"
    return f"""
    WITH {_exact_hits_sql()}, {_ngram_hits_sql()}, {_semantic_hits_sql()}
    SELECT lang,
           COUNT(*) AS n_test,
           COUNT(*) FILTER (WHERE x_hit) AS n_exact,
           COUNT(*) FILTER (WHERE {g_hit}) AS n_ngram,
           COUNT(*) FILTER (WHERE {s_hit}) AS n_semantic,
           COUNT(*) FILTER (WHERE x_hit OR {g_hit} OR {s_hit}) AS n_any
    FROM x_test
    GROUP BY lang
    """


@query("q_decontaminate_report", oracle=_decon_report_oracle())
def q_decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSITE decontamination report — all three published leakage
    checks (exact content hash, 8-token n-gram overlap, embedding cosine)
    over ONE shared train/test split, per language: how many held-out docs
    each method flags and how many ANY method flags. This is the report an
    evaluation-integrity review actually reads — the per-method queries
    (q_decontaminate, q_decontaminate_ngram, q_decontaminate_semantic) are
    its drill-downs, and it is assembled from their hit stages
    (exact_hits, ngram_hits, semantic_hits) and their oracle CTE builders,
    so the composite cannot drift from the parts: each n_* column counts
    the test docs its drill-down's hit stage flags.

    Scale shape = the union of the siblings' shapes, each already
    documented: one 16-byte-hash join tagging every test doc (exact — its
    output is the report's spine), one n-gram-hash semi-join with
    row-local shingling (n-gram), one broadcast-test × streamed-train
    cosine pass (semantic — the clustered drop-in swaps in at 100 TB),
    then two tiny per-doc flag joins into one ≤ |langs| aggregate. Docs
    without a conforming embedding simply cannot be flagged semantically
    (both twins spell the same population); NULL-text docs produce no hash
    and no grams — counted in n_test, never leakable."""
    from .dedup import ngram_hits
    from .vectors import _decon_tagged, semantic_hits

    d = load_table(spark, sf_dir, "documents")
    spine = exact_hits(d, ("doc_id", "lang")).withColumnRenamed("hit", "x_hit")
    ngram = ngram_hits(
        d.select("doc_id", F.split("text", " ").alias("toks"))
    ).withColumn("g_hit", F.lit(1))
    sem = (
        semantic_hits(_decon_tagged(spark, sf_dir))
        .distinct()
        .select(F.col("t_id").alias("doc_id"), F.lit(1).alias("s_hit"))
    )
    flagged = spine.join(ngram, "doc_id", "left").join(sem, "doc_id", "left")
    any_hit = F.when(
        F.col("x_hit").isNotNull()
        | F.col("g_hit").isNotNull()
        | F.col("s_hit").isNotNull(),
        1,
    )
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.count("x_hit").alias("n_exact"),
        F.count("g_hit").alias("n_ngram"),
        F.count("s_hit").alias("n_semantic"),
        F.count(any_hit).alias("n_any"),
    )


# DSIR — data selection via hashed-n-gram importance resampling (Xie et
# al. '23). Feature space: unigrams + bigrams hashed into DSIR_BUCKETS
# buckets (the paper uses 10k over a much larger vocab; 256 keeps the
# broadcast relation trivially small at every SF while leaving bucket
# collisions — the method's defining approximation — well exercised).
# Target distribution: documents whose lang is DSIR_TARGET_LANG, the
# stand-in for the paper's high-quality target corpus.
DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"


def dsir_weights(
    d: DataFrame,
    target_lang: str = DSIR_TARGET_LANG,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-document DSIR log importance weight log(p̂(x)/q̂(x)) under
    hashed bag-of-n-gram bigram models: for each doc, Σ over its grams of
    ln(p_b/q_b), where p/q are Laplace-smoothed bucket distributions
    fitted on the target subset and the full raw pool. Library form so
    the separation pins can drive constructed corpora (the bm25_rank
    precedent).

    Float discipline: each bucket's ln ratio is computed from identical
    rationals in one fixed parenthesization ((c_t+1)/(T+B) over
    (c_r+1)/(R+B)) — the only transcendental — and is ROUNDED to the
    1e-6 grid; the per-doc sum is then exact_sum's DECIMAL accumulation
    (order-independent, so the gram iteration order Spark and DuckDB
    disagree on cannot move the hash). Counts are exact BIGINTs; the
    gram bucket is the established portable md5 idiom.

    Scale shape: grams are built ROW-LOCAL (zip of the token array with
    its tail — never a per-position slice) and exploded via
    explode_outer + a post-filter, the spelling the
    InferFiltersFromGenerate O(n²) pathology cannot touch. TWO corpus
    passes over the gram stream: one |buckets|-group aggregate with
    map-side partials (fits any executor: 256 rows), and one scoring
    pass joining the BROADCAST 256-row ln-ratio relation, aggregated per
    doc_id with map-side partials. The corpus itself never shuffles —
    only (doc_id, decimal partial) rows move. At 100 TB the re-scan
    beats caching the exploded grams (they are ~2× the corpus)."""
    toks = F.split("text", " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = (
        d.select(
            "doc_id",
            "lang",
            F.explode_outer(F.concat(toks, bigrams)).alias("gram"),
        )
        .filter(F.col("gram").isNotNull())
        .select(
            "doc_id",
            "lang",
            (md5_bucket(F.col("gram")) % buckets).alias("bucket"),
        )
    )
    from pyspark.sql import Window

    # Totals ride a whole-relation window over the 256-row stats relation
    # (NOT a separate stats.agg(): that would plant a THIRD gram pass —
    # Spark re-evaluates the unshared aggregate subtree, observed in the
    # first plan audit).
    w_all = Window.partitionBy()
    stats = grams.groupBy("bucket").agg(
        F.count(F.when(F.col("lang") == target_lang, 1)).alias("c_t"),
        F.count(F.lit(1)).alias("c_r"),
    ).select(
        "bucket",
        "c_t",
        "c_r",
        F.sum("c_t").over(w_all).alias("t_tot"),
        F.sum("c_r").over(w_all).alias("r_tot"),
    )
    lnr = F.round(
        F.log(
            (
                (F.col("c_t") + 1).cast("double")
                / (F.col("t_tot") + buckets)
            )
            / (
                (F.col("c_r") + 1).cast("double")
                / (F.col("r_tot") + buckets)
            )
        ),
        6,
    )
    ratio = stats.select("bucket", lnr.alias("lnr"))
    return (
        grams.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id", "lang")
        .agg(exact_sum(F.col("lnr"), 6, 6).alias("logw"))
    )


def _dsir_oracle() -> str:
    from .dedup import _elem_gram_sql

    B = DSIR_BUCKETS
    return f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
        SELECT doc_id, lang,
               unnest(CASE WHEN len(t) >= 2
                   THEN list_concat(t, list_transform(
                        generate_series(1, len(t) - 1),
                        i -> {_elem_gram_sql("t", 2)}))
                   ELSE t END) AS gram
        FROM t
    ),
    b AS (
        SELECT doc_id, lang,
               {o_md5_bucket("gram")} % {B} AS bucket
        FROM grams
    ),
    stats AS (
        SELECT bucket,
               COUNT(*) FILTER (WHERE lang = '{DSIR_TARGET_LANG}') AS c_t,
               COUNT(*) AS c_r
        FROM b GROUP BY bucket
    ),
    tot AS (SELECT SUM(c_t) AS t_tot, SUM(c_r) AS r_tot FROM stats),
    ratio AS (
        SELECT bucket,
               ROUND(ln((CAST(c_t + 1 AS DOUBLE) / (t_tot + {B}))
                      / (CAST(c_r + 1 AS DOUBLE) / (r_tot + {B}))), 6)
                   AS lnr
        FROM stats CROSS JOIN tot
    )
    SELECT doc_id, lang, {o_exact_sum("lnr", 6, 6)} AS logw
    FROM b JOIN ratio USING (bucket)
    GROUP BY doc_id, lang
    """


@query("q_dsir_weights", oracle=_dsir_oracle())
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed importance weights (Xie et al. 2023 — Data Selection
    for LMs via Importance Resampling; VERDICT r11 #7b): score every raw
    document by how much more likely its hashed unigram+bigram profile is
    under the target-domain distribution than under the raw pool. The
    selection step every published domain-adaptation corpus build runs
    before sampling; downstream, docs are kept ∝ exp(logw) (the paper's
    Gumbel top-k — RNG-bound, so the deterministic WEIGHT is the oracled
    surface, the q_temperature_sample convention).

    Full hash oracle: counts are exact, the ln ratio is grid-rounded per
    bucket, and the per-doc sum is exact decimal — see dsir_weights."""
    return dsir_weights(load_spread(spark, sf_dir, "documents"))


# DoReMi-style per-source mixture reweighting (Xie et al. '23 — DoReMi:
# Optimizing Data Mixtures Speeds Up Language Model Pretraining). The
# published procedure trains a proxy model with Group DRO and reads the
# averaged domain weights; the batch analog here is ONE exponentiated-
# gradient step from the natural mixture using a hashed-unigram-LM loss
# proxy: domains whose text the pool LM models WORSE (positive excess
# NLL) are up-weighted multiplicatively, then smoothed toward uniform —
# exactly the paper's update rule alpha·exp(eta·excess), (1-c)·norm + c·u,
# with the trained-proxy per-domain loss replaced by the engine's own
# unigram surprisal (the same stand-in q_quality_logistic uses for its
# trained scorer). eta = 1, c = 1e-3 (the paper's smoothing), K = 5 fixed
# fixture domains.
DOREMI_LANGS = ("de", "en", "es", "fr", "zh")  # fixture domain, FIXTURES.md
DOREMI_BUCKETS = 256  # hashed-unigram LM size (the DSIR_BUCKETS rationale)
DOREMI_FRAC = 0.5  # realized-budget fraction for the membership report


def doremi_mixture(d: DataFrame) -> DataFrame:
    """Per-domain DoReMi-style mixture report: natural share, hashed-
    unigram NLL loss proxy, excess loss vs the pool, one-step DoReMi
    weight, and the realized hash-membership sample at DOREMI_FRAC of
    corpus size. Library form so the planted separation/uniform pins can
    drive constructed corpora (the bm25_rank precedent).

    Float discipline (every output column is an exact BIGINT):
    - the per-bucket ln p is the ONLY transcendental fed by corpus data
      and is grid-rounded to 1e-6 (the dsir_weights precedent);
      per-domain NLL sums then ride exact_sum's DECIMAL accumulation
      (order-independent), so both engines hold bit-identical doubles
      at the 5-row stage;
    - exp(excess) is grid-rounded to 1e-6 (same precedent: ≤1-ulp engine
      disagreement on a transcendental of identical inputs);
    - everything downstream is correctly-rounded +,*,/ with a FIXED
      parenthesization (folds run over DOREMI_LANGS alphabetically,
      left-associated, on both sides), so weights/rates are bit-identical
      cross-engine;
    - outputs derived from QUOTIENTS (mean NLL, excess, weight) are
      emitted as floor(x·1e6) ppm BIGINTs, never round(x, 6): a rational
      quotient CAN sit exactly on a half-grid boundary where the engines'
      round-half-up implementations may disagree, while floor of a
      bit-identical double is exact (the registry.rnd docstring rule).

    NULL/degenerate paths (mirrored in the oracle): a domain with docs
    but zero tokens carries no NLL signal — excess coalesces to 0 and it
    keeps its natural share (nll_mean_ppm NULL); a corpus with no tokens
    anywhere degrades the whole report to the natural mixture; domains
    outside the declared DOREMI_LANGS partition are out of scope in BOTH
    twins (the report is a decision over a fixed source partition).

    Scale shape: TWO gram passes over the corpus (the dsir_weights
    explode discipline — bucket-stats aggregate with map-side partials,
    then the scoring pass joining the BROADCAST 256-row ln-p relation
    into a 5-group aggregate) plus two column-pruned documents scans
    (per-domain doc counts; membership counting against the broadcast
    5-row rates relation). The corpus itself never shuffles — only
    partial-aggregate rows move; all cross joins are 1-row broadcasts."""
    langs = DOREMI_LANGS
    B = DOREMI_BUCKETS
    in_tuple = F.col("lang").isin(*langs)

    counts = (
        d.filter(in_tuple)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    cw = counts.agg(
        *[
            F.min(F.when(F.col("lang") == k, F.col("n_docs"))).alias(f"n_{k}")
            for k in langs
        ]
    )

    toks = F.split("text", " ")
    grams = (
        d.filter(in_tuple & F.col("text").isNotNull())
        .select("lang", F.explode_outer(toks).alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    b = grams.select(
        "lang",
        (md5_bucket(F.col("tok")) % B).alias("bucket"),
    )
    from pyspark.sql import Window

    # pool totals ride a whole-relation window over the 256-row stats
    # relation (the dsir_weights rule: a separate agg would plant a THIRD
    # gram pass through the unshared aggregate subtree)
    w_all = Window.partitionBy()
    stats = (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("bucket", "c", F.sum("c").over(w_all).alias("ct"))
    )
    lnp = F.round(
        F.log((F.col("c") + 1).cast("double") / (F.col("ct") + B)), 6
    )
    ratio = stats.select("bucket", lnp.alias("lnp"))
    nll = (
        b.join(F.broadcast(ratio), "bucket")
        .groupBy("lang")
        .agg(
            exact_sum(F.col("lnp"), 6, 6).alias("s"),
            F.count(F.lit(1)).alias("tk"),
        )
    )
    nw = nll.agg(
        *[
            c
            for k in langs
            for c in (
                F.min(F.when(F.col("lang") == k, F.col("s"))).alias(f"s_{k}"),
                F.min(F.when(F.col("lang") == k, F.col("tk"))).alias(
                    f"tk_{k}"
                ),
            )
        ]
    )

    def fold(cols):
        acc = cols[0]
        for x in cols[1:]:
            acc = acc + x
        return acc

    n_total = fold([F.coalesce(F.col(f"n_{k}"), F.lit(0)) for k in langs])
    s_tot = fold([F.coalesce(F.col(f"s_{k}"), F.lit(0.0)) for k in langs])
    t_tot = fold([F.coalesce(F.col(f"tk_{k}"), F.lit(0)) for k in langs])
    wide = cw.crossJoin(F.broadcast(nw)).select(
        "*",
        n_total.alias("n_total"),
        (-s_tot / F.nullif(t_tot.cast("double"), F.lit(0.0))).alias(
            "m_pool"
        ),
    )
    wide = wide.select(
        "*",
        *[
            (-F.col(f"s_{k}") / F.col(f"tk_{k}").cast("double")).alias(
                f"m_{k}"
            )
            for k in langs
        ],
    )
    wide = wide.select(
        "*",
        *[
            F.greatest(
                F.lit(0.0),
                F.coalesce(F.col(f"m_{k}") - F.col("m_pool"), F.lit(0.0)),
            ).alias(f"ex_{k}")
            for k in langs
        ],
    )
    wide = wide.select(
        "*",
        *[
            c
            for k in langs
            for c in (
                F.round(F.exp(F.col(f"ex_{k}")), 6).alias(f"r_{k}"),
                (
                    F.coalesce(F.col(f"n_{k}"), F.lit(0)).cast("double")
                    / F.col("n_total").cast("double")
                ).alias(f"p_{k}"),
            )
        ],
    )
    wide = wide.select(
        "*",
        *[(F.col(f"p_{k}") * F.col(f"r_{k}")).alias(f"w_{k}") for k in langs],
    )
    wide = wide.select(
        "*", fold([F.col(f"w_{k}") for k in langs]).alias("z")
    )

    def by_lang(col_fmt: str):
        expr = None
        for k in langs:
            cond = F.col("lang") == k
            val = F.col(col_fmt.format(k=k))
            expr = (
                F.when(cond, val)
                if expr is None
                else expr.when(cond, val)
            )
        return expr

    a = (
        F.lit(0.999) * (by_lang("w_{k}") / F.col("z")) + F.lit(0.0002)
    )
    rate = F.least(
        F.lit(1.0),
        (
            (F.lit(DOREMI_FRAC) * F.col("n_total").cast("double")) * a
        )
        / F.col("n_docs").cast("double"),
    )
    rates = counts.crossJoin(F.broadcast(wide)).select(
        "lang",
        "n_docs",
        F.coalesce(by_lang("tk_{k}"), F.lit(0)).alias("n_tokens"),
        F.floor(by_lang("m_{k}") * F.lit(1000000.0))
        .cast("bigint")
        .alias("nll_mean_ppm"),
        F.floor(by_lang("ex_{k}") * F.lit(1000000.0))
        .cast("bigint")
        .alias("excess_ppm"),
        F.floor(a * F.lit(1000000.0)).cast("bigint").alias("weight_ppm"),
        F.floor(rate * F.lit(10000.0)).cast("bigint").alias("cut_bp"),
    )
    bucket = md5_bucket(F.col("doc_id")) % 10000
    return (
        d.filter(in_tuple)
        .select("lang", "doc_id")
        .join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.min("n_docs").alias("n_docs"),
            F.min("n_tokens").alias("n_tokens"),
            F.min("nll_mean_ppm").alias("nll_mean_ppm"),
            F.min("excess_ppm").alias("excess_ppm"),
            F.min("weight_ppm").alias("weight_ppm"),
            F.min("cut_bp").alias("cut_bp"),
            F.count(F.when(bucket < F.col("cut_bp"), 1)).alias("n_selected"),
        )
    )


def _doremi_oracle() -> str:
    B = DOREMI_BUCKETS
    langs = DOREMI_LANGS
    in_list = ", ".join(f"'{k}'" for k in langs)
    cw_cols = ",\n               ".join(
        f"MIN(CASE WHEN lang = '{k}' THEN n_docs END) AS n_{k}"
        for k in langs
    )
    nw_cols = ",\n               ".join(
        f"MIN(CASE WHEN lang = '{k}' THEN s END) AS s_{k},\n"
        f"               MIN(CASE WHEN lang = '{k}' THEN tk END) AS tk_{k}"
        for k in langs
    )
    n_total = " + ".join(f"COALESCE(n_{k}, 0)" for k in langs)
    s_tot = " + ".join(f"COALESCE(s_{k}, 0.0)" for k in langs)
    t_tot = " + ".join(f"COALESCE(tk_{k}, 0)" for k in langs)
    m_cols = ",\n               ".join(
        f"-(s_{k}) / CAST(tk_{k} AS DOUBLE) AS m_{k}" for k in langs
    )
    ex_cols = ",\n               ".join(
        f"GREATEST(0.0, COALESCE(m_{k} - m_pool, 0.0)) AS ex_{k}"
        for k in langs
    )
    rp_cols = ",\n               ".join(
        f"ROUND(EXP(ex_{k}), 6) AS r_{k},\n"
        f"               CAST(COALESCE(n_{k}, 0) AS DOUBLE)"
        f" / CAST(n_total AS DOUBLE) AS p_{k}"
        for k in langs
    )
    w_cols = ",\n               ".join(
        f"p_{k} * r_{k} AS w_{k}" for k in langs
    )
    z = " + ".join(f"w_{k}" for k in langs)
    w_case = (
        "CASE lang "
        + " ".join(f"WHEN '{k}' THEN w_{k}" for k in langs)
        + " END"
    )
    tk_case = (
        "CASE lang "
        + " ".join(f"WHEN '{k}' THEN tk_{k}" for k in langs)
        + " END"
    )
    m_case = (
        "CASE lang "
        + " ".join(f"WHEN '{k}' THEN m_{k}" for k in langs)
        + " END"
    )
    ex_case = (
        "CASE lang "
        + " ".join(f"WHEN '{k}' THEN ex_{k}" for k in langs)
        + " END"
    )
    return f"""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n_docs FROM documents
        WHERE lang IN ({in_list}) GROUP BY lang
    ),
    cw AS (SELECT {cw_cols} FROM counts),
    grams AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE lang IN ({in_list}) AND text IS NOT NULL
    ),
    b AS (
        SELECT lang,
               {o_md5_bucket("tok")} % {B} AS bucket
        FROM grams
    ),
    stats AS (SELECT bucket, COUNT(*) AS c FROM b GROUP BY bucket),
    tot AS (SELECT SUM(c) AS ct FROM stats),
    ratio AS (
        SELECT bucket,
               ROUND(ln(CAST(c + 1 AS DOUBLE) / (ct + {B})), 6) AS lnp
        FROM stats CROSS JOIN tot
    ),
    nll AS (
        SELECT lang, {o_exact_sum("lnp", 6, 6)} AS s, COUNT(*) AS tk
        FROM b JOIN ratio USING (bucket) GROUP BY lang
    ),
    nw AS (SELECT {nw_cols} FROM nll),
    wide AS (
        SELECT *, {n_total} AS n_total,
               -({s_tot}) / NULLIF(CAST({t_tot} AS DOUBLE), 0.0) AS m_pool
        FROM cw CROSS JOIN nw
    ),
    w2 AS (
        SELECT *,
               {m_cols}
        FROM wide
    ),
    w3 AS (
        SELECT *,
               {ex_cols}
        FROM w2
    ),
    w4 AS (
        SELECT *,
               {rp_cols}
        FROM w3
    ),
    w5 AS (
        SELECT *,
               {w_cols}
        FROM w4
    ),
    w6 AS (SELECT *, {z} AS z FROM w5),
    rates AS (
        SELECT c.lang, c.n_docs,
               COALESCE({tk_case}, 0) AS n_tokens,
               CAST(FLOOR(({m_case}) * 1000000.0) AS BIGINT)
                   AS nll_mean_ppm,
               CAST(FLOOR(({ex_case}) * 1000000.0) AS BIGINT)
                   AS excess_ppm,
               CAST(FLOOR(((0.999 * (({w_case}) / z)) + 0.0002)
                          * 1000000.0) AS BIGINT) AS weight_ppm,
               CAST(FLOOR(LEAST(1.0,
                   (({DOREMI_FRAC} * CAST(n_total AS DOUBLE))
                    * ((0.999 * (({w_case}) / z)) + 0.0002))
                   / CAST(c.n_docs AS DOUBLE)) * 10000.0) AS BIGINT)
                   AS cut_bp
        FROM counts c CROSS JOIN w6
    )
    SELECT d.lang,
           MIN(r.n_docs) AS n_docs,
           MIN(r.n_tokens) AS n_tokens,
           MIN(r.nll_mean_ppm) AS nll_mean_ppm,
           MIN(r.excess_ppm) AS excess_ppm,
           MIN(r.weight_ppm) AS weight_ppm,
           MIN(r.cut_bp) AS cut_bp,
           COUNT(*) FILTER (
               WHERE {o_md5_bucket("d.doc_id")} % 10000 < r.cut_bp) AS n_selected
    FROM documents d JOIN rates r ON d.lang = r.lang
    GROUP BY d.lang
    """


@query("q_doremi_mixture", oracle=_doremi_oracle())
def q_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style per-source mixture reweighting report (Xie et al.
    2023; VERDICT r12 #3 — the last widely-used published data-mixing
    member next to DSIR/temperature/token-budget): per fixture domain,
    natural share, hashed-unigram NLL loss proxy, excess loss vs the
    pool, the one-step exponentiated-gradient DoReMi weight
    (0.999·(p·exp(excess))/Z + 0.0002 — the paper's update with its
    c = 1e-3 uniform smoothing), and the realized hash-membership sample
    at half corpus size. The report a 100 TB corpus build reads to set
    per-source sampling rates before the pretraining mix is committed.

    Full hash oracle with zero float exposure: every output column is an
    exact BIGINT (quotient-derived values emitted as floor-ppm — see
    doremi_mixture for the grid/fold discipline)."""
    return doremi_mixture(load_spread(spark, sf_dir, "documents"))
