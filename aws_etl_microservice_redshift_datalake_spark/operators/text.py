"""Text-analysis operators over the documents corpus — SURVEY.md §2.10
L1/L2/L6-L9 plus the training-data-pipeline extensions (language ID, quality
scoring, regex tokenization, document fingerprinting).

Reference parity: the reference class is ETL orchestration (public semantics;
/root/reference is empty — SURVEY.md §0); these operators are the
LLM-data-pipeline extension the north star mandates (BASELINE.json).

Scale notes (100 TB):
- Everything is explode → hash-aggregate → window: fully shuffle-parallel, no
  driver-side state, no Python in the hot path (all Spark built-ins).
- Exact dedup at scale keys on md5(normalized text) (L2) so the shuffle key
  is 16 bytes, not the document body (L1 groups by raw text to demonstrate
  the naive variant; prefer L2 beyond toy scale).
- The language-ID lexicon is itself derived distributively (top-k tokens per
  language via window rank), then joined back — a two-pass model-fit/predict
  pipeline with no collect().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import N_CHARS_MAX, md5_bucket, o_md5_bucket, query, rnd
from ..sources.io import load_spread, load_table, table_rows


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents corpus, spread to the session's parallelism only when
    the scan under-splits (the sf* corpus is a single one-row-group file —
    without the spread every tokenize/explode pipeline runs on one core,
    measured 4-12x at sf0.1). On a many-file 100 TB corpus the scan
    parallelizes natively and no shuffle is inserted (see sources.io.spread)."""
    return load_spread(spark, sf_dir, "documents")


@query(
    "q_dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: exact dedup — one surviving row per distinct text (keep lowest
    doc_id). sf0.1 contains 8 duplicated texts by construction."""
    d = _docs(spark, sf_dir)
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keep_id", "n_copies")


@query(
    "q_dedup_hash",
    oracle="""
    SELECT md5(lower(trim(text))) AS text_key,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: hash dedup — group on md5 of normalized text. The at-scale exact
    dedup: constant-width shuffle key regardless of document size."""
    d = _docs(spark, sf_dir)
    key = F.md5(F.lower(F.trim("text")))
    return d.groupBy(key.alias("text_key")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "q_text_stats",
    oracle=f"""
    WITH t AS (SELECT lang, source,
                      CASE WHEN n_chars BETWEEN 0 AND {N_CHARS_MAX}
                           THEN n_chars END AS n_chars_ok,
                      len(string_split(text, ' ')) AS n_toks,
                      length(text) = n_chars AS len_ok
               FROM documents)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars_ok) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars_ok) AS DOUBLE) / SUM(n_toks) AS chars_per_token,
           COUNT(DISTINCT source) AS n_sources,
           BOOL_AND(len_ok) AS n_chars_consistent
    FROM t
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: corpus text statistics per language — token totals (whitespace
    tokenization; the vocab is space-separated by construction), chars/token,
    source diversity, and an n_chars==length(text) consistency audit.

    The char sums run over the SANITIZED stats column (NULL outside
    [0, N_CHARS_MAX], which SUM skips identically in both engines — r7
    stats-axis sweep: one Long.MAX sentinel row THROWS the whole ANSI
    SUM(bigint) while DuckDB's int128 SUM diverges past it); row counts,
    token totals, and the len_ok audit still see every row — a
    non-conforming n_chars correctly reports as inconsistent, not as a
    stage-killing overflow."""
    d = _docs(spark, sf_dir)
    n_toks = F.size(F.split("text", " "))
    n_chars_ok = F.when(
        (F.col("n_chars") >= 0) & (F.col("n_chars") <= N_CHARS_MAX),
        F.col("n_chars"),
    )
    return (
        d.select(
            "lang",
            "source",
            n_chars_ok.alias("n_chars_ok"),
            n_toks.alias("n_toks"),
            (F.length("text") == F.col("n_chars")).alias("len_ok"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
            F.sum("n_chars_ok").cast("bigint").alias("total_chars"),
            (F.sum("n_chars_ok").cast("double") / F.sum("n_toks")).alias("chars_per_token"),
            F.countDistinct("source").alias("n_sources"),
            F.bool_and("len_ok").alias("n_chars_consistent"),
        )
    )


@query(
    "q_word_freq",
    oracle="""
    SELECT word, cnt FROM (
        SELECT word, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word ASC) AS rn
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        GROUP BY word
    ) WHERE rn <= 20
    """,
)
def q_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7: corpus term frequency, top-20 terms (count desc, term asc —
    deterministic cut). Explode → partial-agg → tiny final top-k."""
    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("word"))
    return counts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 20).select(
        "word", "cnt"
    )


@query(
    "q_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), tf AS (
        SELECT doc_id, word, COUNT(*) AS tf_cnt FROM toks GROUP BY doc_id, word
    ), dl AS (
        SELECT doc_id, SUM(tf_cnt) AS doc_len FROM tf GROUP BY doc_id
    ), df AS (
        SELECT word, COUNT(*) AS df_cnt FROM tf GROUP BY word
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.word,
               ROUND((CAST(tf.tf_cnt AS DOUBLE) / dl.doc_len)
                     * ln((n.n_docs + 1.0::DOUBLE) / (df.df_cnt + 1.0::DOUBLE)), 6) AS tfidf
        FROM tf JOIN dl USING (doc_id) JOIN df USING (word) CROSS JOIN n
        WHERE tf.doc_id < 50
    )
    SELECT doc_id, word, tfidf FROM (
        SELECT doc_id, word, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L8: TF-IDF (smooth idf = ln((N+1)/(df+1))), top-3 terms per document
    for doc_id < 50. Pure DataFrame joins (no MLlib): tf ⋈ doc-length ⋈
    document-frequency ⋈ corpus size. Scores are rounded BEFORE ranking so
    the cut is deterministic across engines (ln differs in last ulp)."""
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("toks"))
    # tf only for the requested docs (predicate pushed ABOVE the explode);
    # doc length is row-local (size of the token array) — no corpus-wide
    # (doc, word) aggregate and no doc-length shuffle
    target = d.filter(F.col("doc_id") < 50)
    tf = (
        target.select("doc_id", F.explode("toks").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf_cnt"))
    )
    dl = target.select("doc_id", F.size("toks").alias("doc_len"))
    # document frequency needs the whole corpus, but only one doc-distinct
    # explode + word aggregate (array_distinct is row-local)
    df_ = (
        d.select(F.explode(F.array_distinct("toks")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df_cnt"))
    )
    n_docs = table_rows(sf_dir, "documents")  # parquet footer metadata, no job
    scored = (
        tf.join(dl, "doc_id")
        .join(df_, "word")
        .select(
            "doc_id",
            "word",
            F.round(
                (F.col("tf_cnt").cast("double") / F.col("doc_len"))
                * F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df_cnt") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3).select(
        "doc_id", "word", "tfidf"
    )


@query(
    "q_ngrams",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
    grams AS (
        SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        FROM t WHERE len(toks) >= 2
    )
    SELECT bigram, cnt FROM (
        SELECT bigram, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bigram ASC) AS rn
        FROM grams GROUP BY bigram
    ) WHERE rn <= 20
    """,
)
def q_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9: bigram extraction + top-20 corpus bigrams. Spark side builds
    n-grams with transform-over-sequence (guarded: sequence(0,-1) would go
    DESCENDING on short docs)."""
    d = _docs(spark, sf_dir)
    t = d.select(F.split("text", " ").alias("toks")).filter(F.size("toks") >= 2)
    grams = t.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.concat_ws(" ", F.element_at("toks", i + 1), F.element_at("toks", i + 2)),
            )
        ).alias("bigram")
    )
    counts = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("bigram"))
    return counts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 20).select(
        "bigram", "cnt"
    )


@query(
    "q_lang_id",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS word
        FROM documents
    ), lex AS (
        SELECT lang AS lex_lang, word FROM (
            SELECT lang, word, ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY COUNT(*) DESC, word ASC) AS rn
            FROM toks WHERE lang IS NOT NULL GROUP BY lang, word
        ) WHERE rn <= 20
    ), overlap AS (
        SELECT t.doc_id, l.lex_lang, COUNT(*) AS n_hits
        FROM (SELECT DISTINCT doc_id, word FROM toks) t
        JOIN lex l USING (word)
        GROUP BY t.doc_id, l.lex_lang
    ), pred AS (
        SELECT doc_id, lex_lang AS pred_lang FROM (
            SELECT doc_id, lex_lang,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY n_hits DESC, lex_lang ASC) AS rn
            FROM overlap
        ) WHERE rn = 1
    )
    SELECT d.doc_id, d.lang, COALESCE(p.pred_lang, 'unknown') AS pred_lang,
           d.lang = COALESCE(p.pred_lang, 'unknown') AS is_correct
    FROM documents d LEFT JOIN pred p USING (doc_id)
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: fit a per-language lexicon (top-20 tokens by
    document frequency) distributively, then classify each doc by maximum
    lexicon overlap (ties → lang asc). A full fit/predict pipeline in pure
    DataFrame ops — the shape of n-gram language ID at corpus scale."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", "lang", F.explode(F.array_distinct(F.split("text", " "))).alias("word")
    )
    # NULL-lang docs are excluded from the lexicon FIT in both twins (r7
    # degraded-twin gate: an unlabelled doc can't contribute a labelled
    # lexicon — and a NULL lexicon diverges the prediction tie-break, since
    # Spark sorts NULL first on ASC where DuckDB sorts it last). They are
    # still PREDICTED below like any other doc.
    lex_w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("word"))
    lex = (
        toks.filter(F.col("lang").isNotNull())
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(lex_w))
        .filter(F.col("rn") <= 20)
        .select(F.col("lang").alias("lex_lang"), "word")
    )
    overlap = (
        toks.select("doc_id", "word")
        .distinct()
        .join(lex, "word")
        .groupBy("doc_id", "lex_lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    pred_w = Window.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("lex_lang"))
    pred = (
        overlap.withColumn("rn", F.row_number().over(pred_w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lex_lang").alias("pred_lang"))
    )
    return (
        d.select("doc_id", "lang")
        .join(pred, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("pred_lang", F.lit("unknown")).alias("pred_lang"),
            (F.col("lang") == F.coalesce("pred_lang", F.lit("unknown"))).alias("is_correct"),
        )
    )


_STOPWORDS = ("key", "row", "value", "table", "scan")


@query(
    "q_text_quality",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(n_chars AS DOUBLE) / len(toks) AS mean_token_len,
           CAST(len(list_filter(toks, x -> x IN {_STOPWORDS!r})) AS DOUBLE) / len(toks) AS stop_ratio,
           CAST(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))) AS DOUBLE) / len(toks) AS digit_ratio,
           2.0::DOUBLE * (CAST(len(list_filter(toks, x -> x IN {_STOPWORDS!r})) AS DOUBLE) / len(toks))
             + 0.1::DOUBLE * (CAST(n_chars AS DOUBLE) / len(toks))
             + 0.001::DOUBLE * n_chars AS quality_score
    FROM t
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, mean token length, stopword ratio, digit
    ratio, and a linear quality score. All arithmetic is per-row exact IEEE
    (ratios of integers) — bit-identical cross-engine, no rounding needed."""
    d = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    t = d.select("doc_id", "n_chars", toks.alias("toks"))
    n = F.size("toks")
    stop_hits = F.size(F.filter("toks", lambda x: x.isin(*_STOPWORDS)))
    digit_hits = F.size(F.filter("toks", lambda x: x.rlike("^[0-9]+$")))
    mean_len = F.col("n_chars").cast("double") / n
    stop_ratio = stop_hits.cast("double") / n
    return t.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        stop_ratio.alias("stop_ratio"),
        (digit_hits.cast("double") / n).alias("digit_ratio"),
        (F.lit(2.0) * stop_ratio + F.lit(0.1) * mean_len + F.lit(0.001) * F.col("n_chars")).alias(
            "quality_score"
        ),
    )


@query(
    "q_token_regex",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS INTEGER) AS n_distinct
    FROM documents
    """,
)
def q_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex (letter runs, digit
    runs, single punctuation) — the standard LLM-pipeline token estimator.
    Pattern kept in the RE2 ∩ Java-regex common dialect."""
    d = _docs(spark, sf_dir)
    pat = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    toks = F.regexp_extract_all("text", F.lit(pat), 0)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )


@query(
    "q_fingerprint",
    oracle="""
    SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: canonical bag-of-words fingerprint —
    md5 over the sorted distinct token set. Invariant under token reordering
    and repetition, so it catches shuffled/duplicated-word variants that
    exact dedup (L1/L2) misses."""
    d = _docs(spark, sf_dir)
    fp = F.md5(F.array_join(F.sort_array(F.array_distinct(F.split("text", " "))), " "))
    return d.groupBy(fp.alias("fp")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "q_text_repetition",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (
        SELECT doc_id,
               CASE WHEN len(ws) >= 3
                    THEN list_transform(generate_series(1, len(ws) - 2),
                                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                    ELSE [] END AS grams
        FROM w
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           CASE WHEN len(grams) > 0
                THEN 1.0::DOUBLE - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
                ELSE 0.0::DOUBLE END AS rep_ratio
    FROM g
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition ratio (the Gopher-style "repetitious
    content" quality signal): fraction of duplicated word 3-grams per doc —
    1 − distinct/total. Entirely row-local (split → transform-over-sequence
    → array_distinct), no shuffle, no explode: the classic map-only quality
    pass a training-data pipeline runs before dedup. Ratio is a division of
    small exact integers — bit-identical on both engines."""
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", F.split("text", " ").alias("ws"))
    grams = F.when(
        F.size("ws") >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size("ws") - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at("ws", i + 1),
                F.element_at("ws", i + 2),
                F.element_at("ws", i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = t.select("doc_id", grams.alias("grams"))
    nd = F.size(F.array_distinct("grams"))
    n = F.size("grams")
    return g.select(
        "doc_id",
        n.cast("bigint").alias("n_grams"),
        nd.cast("bigint").alias("n_distinct"),
        F.when(n > 0, F.lit(1.0) - nd.cast("double") / n)
        .otherwise(F.lit(0.0))
        .alias("rep_ratio"),
    )


@query(
    "q_fuzzy_match",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(levenshtein(c_name, 'Customer#000000042') AS BIGINT) AS dist
    FROM customer
    WHERE levenshtein(c_name, 'Customer#000000042') <= 2
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: customers whose name is within edit distance 2
    of a probe key — the approximate-key lookup entity resolution runs when
    exact joins fail (typos, OCR noise). Levenshtein is exact-integer on
    both engines. Scale shape: a scan-side filter against a broadcast probe
    (here a literal); at 100 TB with a probe TABLE this becomes a
    length/prefix-blocked join (same blocking idea as the LSH dedup), never
    an all-pairs edit-distance."""
    c = load_table(spark, sf_dir, "customer")
    dist = F.levenshtein(F.col("c_name"), F.lit("Customer#000000042"))
    return c.select(
        "c_custkey", "c_name", dist.cast("bigint").alias("dist")
    ).filter(F.col("dist") <= 2)


# Quantifiers are BOUNDED to the RFC 5321 limits (64-char local part,
# 255-char domain) — not for strictness but for worst-case scan cost: with
# an unbounded `[...]+@`, Java's backtracking engine pays O(len) at every
# start position inside a long delimiter-free token (no required-literal
# skip-ahead), so one 200k-char token cost ~55 MINUTES per expression
# (measured, r6 degenerate sweep) — the shape that stalls an executor on
# crawl text at 100 TB. Bounding caps the per-position work at 64: the same
# doc redacts in milliseconds. DuckDB's RE2 is linear either way and
# produces identical matches (incl. >64-char local parts, where both
# engines redact the RFC-valid 64-char tail).
_EMAIL_RE = "[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\\.[A-Za-z]{2,}"
_URL_RE = "https?://[^ ]+"  # literal prefix → fast scan; [^ ]+ never backtracks


@query(
    "q_text_redact",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or see https://corpus.example/doc/'
                    || CAST(doc_id AS VARCHAR) AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_URL_RE}')) AS BIGINT) AS n_urls,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_URL_RE}', '<URL>', 'g') AS redacted
    FROM aug
    """,
)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: regex redaction of emails/URLs
    with per-doc redaction counts. The synthetic corpus contains no PII, so
    the query deterministically INJECTS one email + one URL per doc (the
    oracle applies the identical augmentation) — the redaction plumbing,
    regex semantics, and counts are fully exercised and hash-checked.

    Scale shape: row-local regexp_replace/regexp_count inside whole-stage
    codegen — no shuffle, no Python; the same pattern list extends to
    phone/SSN/credit-card regexes unchanged. Regexes are restricted to the
    RE2∩Java-compatible subset so both engines agree character-for-character.
    """
    d = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or see https://corpus.example/doc/"),
        F.col("doc_id").cast("string"),
    )
    red = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(aug, F.lit(_URL_RE)).cast("bigint").alias("n_urls"),
        red.alias("redacted"),
    )


TOKEN_BUCKET = 32  # histogram bucket width (tokens)


@query(
    "q_token_histogram",
    oracle=f"""
    SELECT CAST(floor(len(string_split(text, ' ')) / {TOKEN_BUCKET})
                * {TOKEN_BUCKET} AS BIGINT) AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY bucket_lo
    """,
)
def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram — the length-distribution report every
    training-data pipeline runs before choosing packing budgets and
    truncation limits. Row-local tokenize + bucket, one map-side-combinable
    aggregate over ≤ (max_tokens/bucket) groups: the shuffle is bounded by
    the bucket count, not the corpus."""
    d = load_table(spark, sf_dir, "documents")
    tok = F.size(F.split("text", " "))
    bucket = (F.floor(tok / TOKEN_BUCKET) * TOKEN_BUCKET).cast("bigint")
    return (
        d.select(bucket.alias("bucket_lo"), tok.alias("tok"))
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").cast("bigint").alias("total_tokens"),
        )
    )


def unigram_doc_scores(d: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Per-doc unigram LM score (doc_id, *carry, n_tokens, sum_logp):
    sum_logp = Σ ln P(w) over the doc's tokens, P from the corpus's own
    unigram counts. Shared by q_unigram_logprob and q_ccnet_buckets
    (``carry`` rides the per-doc aggregate). Oracle twin:
    :func:`_unigram_scores_sql`."""
    toks = d.select("doc_id", *carry, F.explode(F.split("text", " ")).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.agg(F.count(F.lit(1)).alias("n_tot"))
    per_tok = F.round(F.log(F.col("c") / F.col("n_tot")), 6).cast(
        T.DecimalType(27, 6)
    )
    return (
        toks.join(uni, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", *carry)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum(per_tok), 4).cast("double").alias("sum_logp"),
        )
    )


def _unigram_scores_sql(carry: tuple[str, ...] = ()) -> str:
    """Oracle CTEs of :func:`unigram_doc_scores`: ``sc`` holds (doc_id,
    *carry, n_tokens, sum_logp)."""
    keys = ", ".join(("doc_id", *carry))
    return f"""
    toks AS (
        SELECT {keys}, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    uni AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    tot AS (SELECT COUNT(*) AS n_tot FROM toks),
    sc AS (
        SELECT {keys},
               COUNT(*) AS n_tokens,
               CAST(ROUND(SUM(CAST(ROUND(ln(CAST(c AS DOUBLE) / n_tot), 6)
                                   AS DECIMAL(27,6))), 4) AS DOUBLE) AS sum_logp
        FROM toks JOIN uni USING (w) CROSS JOIN tot
        GROUP BY {keys}
    )"""


@query(
    "q_unigram_logprob",
    oracle=f"WITH {_unigram_scores_sql()} SELECT * FROM sc",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality scoring — the corpus-LM perplexity
    proxy (CCNet-style) used to rank documents for training-data selection:
    score(doc) = Σ ln P(w) over its tokens, P from the corpus's own unigram
    counts. Low (very negative per-token) scores flag gibberish/rare-token
    documents.

    Float discipline: ln(c/N) takes identical rational inputs on both
    engines; each distinct logprob (one per vocabulary word) is rounded to
    the 1e-6 grid BEFORE summation and the per-doc sum is exact decimal
    arithmetic (the exact_sum rule) — addition order cannot move the
    result, and the only cross-engine exposure is a libm ulp landing
    exactly on a grid boundary (~45 distinct values here, none near one).

    Scale shape: explode → one map-combinable unigram aggregate (vocab-
    bounded shuffle), token→count hash join (hot stopwords = AQE skew
    split), one per-doc aggregate. No text moves after the explode; no
    Python anywhere."""
    return unigram_doc_scores(load_spread(spark, sf_dir, "documents"))


@query(
    "q_quality_quartile",
    oracle=f"""
    WITH conf AS (
        SELECT lang, n_chars FROM documents
        WHERE n_chars BETWEEN 0 AND {N_CHARS_MAX}
    ),
    thr AS (
        SELECT lang, ROUND(quantile_cont(n_chars, 0.75), 4) AS p75
        FROM conf GROUP BY lang
    )
    SELECT d.lang,
           COUNT(*) AS n_selected,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           MIN(thr.p75) AS p75
    FROM conf d JOIN thr ON d.lang = thr.lang
    WHERE d.n_chars >= thr.p75
    GROUP BY d.lang
    """,
)
def q_quality_quartile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-quartile selection per class — keep each language's docs at or
    above its own 75th-percentile quality score (n_chars as the stand-in
    score): the class-conditioned quality filter every training pipeline
    runs.

    Scale shape: the per-class threshold comes from ONE tiny aggregate
    (exact percentile here for the oracle; percentile_approx is the
    drop-in at 100 TB) broadcast back as a map-side filter — NO per-class
    window sort, so parallelism never collapses to the class count (the
    same de-skew principle as q_stratified_sample). Threshold rounded to
    the 1e-4 grid on both engines (the A6-proven percentile_cont
    discipline) so the >= comparison is cross-engine deterministic.
    Non-conforming scores (n_chars outside [0, N_CHARS_MAX]) are excluded
    BEFORE the quantile and the sum in both twins (r7 stats-axis sweep:
    a Long.MAX sentinel both skewed the threshold and threw the ANSI
    SUM) — a garbage quality score is not selectable by contract."""
    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("n_chars") >= 0) & (F.col("n_chars") <= N_CHARS_MAX)
    )
    thr = d.groupBy("lang").agg(
        F.round(F.percentile("n_chars", 0.75), 4).alias("p75")
    )
    return (
        d.select("lang", "n_chars")
        .join(F.broadcast(thr), "lang")
        .filter(F.col("n_chars") >= F.col("p75"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("p75").alias("p75"),
        )
    )


CHUNK_TOKENS = 128  # chunk size (tokens)
CHUNK_STRIDE = 64  # chunk stride (tokens) — 50% overlap


@query(
    "q_chunk_documents",
    oracle=f"""
    SELECT doc_id,
           CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(least({CHUNK_TOKENS}, n_toks - start) AS BIGINT) AS chunk_tokens
    FROM (
        SELECT doc_id, len(string_split(text, ' ')) AS n_toks,
               unnest(generate_series(0, len(string_split(text, ' ')) - 1,
                                      {CHUNK_STRIDE})) AS start
        FROM documents
    )
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the RAG/pretraining prep step that
    splits each doc into CHUNK_TOKENS-token windows at CHUNK_STRIDE stride
    (50% overlap). Output: one row per (doc, chunk) with its exact token
    count (trailing chunks are partial).

    Scale shape: completely row-local — tokenize once per doc, generate
    chunk starts with `sequence`, explode; no shuffle at all (the explode
    multiplies rows ~n_toks/stride ×, the same fan-out any chunker pays).
    The chunk TEXT itself is `slice(toks, start+1, CHUNK_TOKENS)` on the
    same plan — omitted here so the driver hash stays on scalar columns."""
    d = load_spread(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n = F.size("toks")
    starts = F.sequence(F.lit(0), n - 1, F.lit(CHUNK_STRIDE))
    return (
        d.select("doc_id", n.alias("n_toks"), F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
            F.least(F.lit(CHUNK_TOKENS), F.col("n_toks") - F.col("start"))
            .cast("bigint")
            .alias("chunk_tokens"),
        )
    )


PMI_MIN_COUNT = 5  # collocation support floor


@query(
    "q_bigram_pmi",
    oracle=f"""
    WITH toks AS (
        SELECT string_split(text, ' ') AS t FROM documents
    ), uni AS (
        SELECT w, COUNT(*) AS c FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ), tot AS (
        SELECT (SELECT SUM(c) FROM uni) AS n_uni,
               (SELECT SUM(len(t) - 1) FROM toks WHERE len(t) >= 2) AS n_bi
    ), bi AS (
        -- element-indexed list_transform, not a correlated lateral unnest:
        -- the lateral form drags the whole token list into every generated
        -- position row (quadratic in DuckDB — >150 s vs 0.1 s on ten
        -- 50k-token docs, the r9 composed content-axis gate's find);
        -- identical (w1, w2) multiset, EXCEPT-ALL verified
        SELECT w1, w2, COUNT(*) AS c_ab
        FROM (
            SELECT u.w1 AS w1, u.w2 AS w2 FROM (
                SELECT unnest(list_transform(
                    generate_series(1, len(t) - 1),
                    i -> {{'w1': t[i], 'w2': t[i+1]}})) AS u
                FROM toks WHERE len(t) >= 2
            )
        )
        GROUP BY w1, w2
    ), scored AS (
        SELECT w1, w2, c_ab,
               ROUND(ln((CAST(c_ab AS DOUBLE) / n_bi)
                        / ((CAST(a.c AS DOUBLE) / n_uni) * (CAST(b.c AS DOUBLE) / n_uni))), 6)
                   AS pmi
        FROM bi JOIN uni a ON bi.w1 = a.w JOIN uni b ON bi.w2 = b.w CROSS JOIN tot
        WHERE c_ab >= {PMI_MIN_COUNT}
    )
    SELECT w1, w2, c_ab, pmi FROM (
        SELECT w1, w2, c_ab, pmi,
               ROW_NUMBER() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rn
        FROM scored
    ) WHERE rn <= 20
    """,
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram PMI collocations — pointwise mutual information
    ln(p(ab)/(p(a)p(b))) over consecutive token pairs, support ≥
    PMI_MIN_COUNT, top-20. The collocation-mining step of corpus analysis
    (and the statistic behind phrase detection in word2vec-style
    pipelines).

    Float discipline: PMI is ln of a ratio of identical rationals on both
    engines, ROUNDED to the 1e-6 grid BEFORE ranking (the q_tfidf
    discipline) so the top-20 cut is cross-engine deterministic. Scale
    shape: bigrams are built row-local (zip of the token array with its
    tail), one hash aggregate each for unigram/bigram counts, two hash
    joins against the (vocab-sized) unigram relation, broadcast totals,
    global top-20 via per-partition heaps."""
    d = load_spread(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("t")
    )
    uni = (
        d.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = d.filter(F.size("t") >= 2).select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    )
    bi = pairs.select("p.w1", "p.w2").groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c_ab")
    )
    tot = d.select(
        F.sum(F.size("t")).alias("n_uni"),
        F.sum(
            F.when(F.size("t") >= 2, F.size("t") - 1).otherwise(F.lit(0))
        ).alias("n_bi"),
    )
    a = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    b = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") / F.col("n_bi"))
            / (
                (F.col("c_a").cast("double") / F.col("n_uni"))
                * (F.col("c_b").cast("double") / F.col("n_uni"))
            )
        ),
        6,
    )
    return (
        bi.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c_ab", pmi.alias("pmi"))
        # TakeOrderedAndProject, not a global row_number window: per-
        # partition heaps, no single-partition sort of the bigram-type
        # relation (which is vocab²-bounded and large at corpus scale)
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


@query(
    "q_fuzzy_join",
    oracle=f"""
    WITH conf AS (
        SELECT * FROM customer WHERE length(c_name) <= 1000
    ),
    probes AS (
        SELECT c_custkey AS probe_id,
               substr(c_name, 1, 9) || 'x' || substr(c_name, 11) AS probe_name,
               substr(c_name, 15, 4) AS blk
        FROM conf
        WHERE {o_md5_bucket("c_custkey")} % 100 < 10
    )
    SELECT probe_id, probe_name, c_custkey AS matched_id,
           CAST(levenshtein(probe_name, c_name) AS BIGINT) AS dist
    FROM probes JOIN conf ON blk = substr(c_name, 15, 4)
    WHERE levenshtein(probe_name, c_name) <= 2
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy JOIN — entity resolution of a noisy probe TABLE against
    the customer master, the at-scale form q_fuzzy_match's docstring
    promises: never all-pairs edit distance.

    The probe table is derived deterministically (10% hash-sample of
    customers, one character corrupted), blocking keys are a stable
    substring untouched by the corruption (the tail digits), and the
    expensive verify (levenshtein ≤ 2) runs ONLY inside blocks: a hash
    equi-join on the block key bounds candidate pairs at Σ|block|² instead
    of |probes|·|master|. At 100 TB the blocking key generalizes to
    phonetic codes / q-gram signatures with the identical plan. Both the
    probe derivation and the blocking are mirrored in the oracle.

    The verify uses the THRESHOLD form of levenshtein (r7 adversarial
    dimension-string probe): the plain form is a full O(|a|·|b|) DP, so
    two 10k-char garbage names sharing a degenerate block cost 10⁸ cells
    PER PAIR (measured 84 s on a 1.5k-row corpus — an executor-staller at
    lake scale, the q_text_redact class). levenshtein(a, b, 2) band-limits
    the DP to O(min(|a|,|b|)·2) and returns -1 past the threshold, so the
    kept pairs and their distances are IDENTICAL to the plain form (the
    oracle keeps plain levenshtein — DuckDB lacks the threshold parameter
    but its ≤ 2 filter selects the same rows). Even band-limited, Spark's
    UTF8 DP costs ~14 ms on a 10k-char pair, so the PRIMARY guard is a
    name-length conformance filter (length ≤ 1000, mirrored in the
    oracle's conf CTE): kilobyte-scale 'names' are garbage by contract,
    and excluding them also dissolves the degenerate all-garbage block
    the length planted (every 10k-char name shared one 'xxxx' key —
    Σ|block|² with the heaviest possible per-pair cost). Residual
    at-scale caveat, documented not guarded: a legitimately hot blocking
    key still costs Σ|block|² cheap comparisons — if a real lake's key
    space can degenerate, add a mirrorable block-size cap
    (COUNT() OVER block ≤ B) before the join."""
    c = load_table(spark, sf_dir, "customer").filter(F.length("c_name") <= 1000)
    probes = c.filter(md5_bucket(F.col("c_custkey")) % 100 < 10).select(
        F.col("c_custkey").alias("probe_id"),
        F.concat(
            F.substring("c_name", 1, 9), F.lit("x"), F.expr("substr(c_name, 11)")
        ).alias("probe_name"),
        F.substring("c_name", 15, 4).alias("blk"),
    )
    cand = probes.join(
        c.select("c_custkey", "c_name", F.substring("c_name", 15, 4).alias("blk")),
        "blk",
    )
    # threshold form: -1 means "distance exceeds 2", so the filter must be
    # BETWEEN 0 AND 2 (a plain <= 2 would keep every -1 row)
    dist = F.levenshtein(F.col("probe_name"), F.col("c_name"), 2)
    return (
        cand.filter(dist.between(0, 2))
        .select(
            "probe_id",
            "probe_name",
            F.col("c_custkey").alias("matched_id"),
            dist.cast("bigint").alias("dist"),
        )
    )


# Keyword retrieval: fixed query terms from the fixture's synthetic vocab
KW_TERMS = ("hash", "scan", "join")
KW_TOPK = 10
RRF_K = 60  # the standard reciprocal-rank-fusion constant


# ---- TF-IDF arm, defined ONCE for the standalone keyword query AND the
# hybrid fusion (both SQL-fragment builders and the Spark expressions):
# a smoothing or rounding tweak applied in one place reaches all four
# call sites, so the fused kw ranks can never drift from the standalone
# ranking.

def _kw_tf_sql(t: str) -> str:
    return f"len(list_filter(string_split(text, ' '), x -> x = '{t}'))"


def _kw_score_sql() -> str:
    idf = lambda t: f"ln((CAST(n_docs AS DOUBLE) + 1.0) / (df_{t} + 1.0))"
    term = lambda t: (
        f"CAST(ROUND(CAST({_kw_tf_sql(t)} AS DOUBLE) * {idf(t)}, 6) AS DECIMAL(27,6))"
    )
    return " + ".join(term(t) for t in KW_TERMS)


def _kw_dfs_sql() -> str:
    return ", ".join(
        f"COUNT(*) FILTER (WHERE {_kw_tf_sql(t)} > 0) AS df_{t}" for t in KW_TERMS
    )


def _kw_anyhit_sql() -> str:
    return " OR ".join(f"{_kw_tf_sql(t)} > 0" for t in KW_TERMS)


def _kw_oracle() -> str:
    return f"""
    WITH stats AS (SELECT COUNT(*) AS n_docs, {_kw_dfs_sql()} FROM documents)
    SELECT doc_id, lang, CAST(({_kw_score_sql()}) AS DOUBLE) AS score
    FROM documents CROSS JOIN stats
    WHERE {_kw_anyhit_sql()}
    ORDER BY score DESC, doc_id ASC
    LIMIT {KW_TOPK}
    """


def _kw_spark(d):
    """(stats_df, score_col, anyhit_col) — the Spark half of the shared
    TF-IDF arm; score/anyhit reference the stats columns, so apply them
    AFTER crossJoin(broadcast(stats))."""
    toks = F.split("text", " ")

    def tf(t: str):
        return F.size(F.filter(toks, lambda x: x == F.lit(t)))

    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.count(F.when(tf(t) > 0, 1)).alias(f"df_{t}") for t in KW_TERMS],
    )

    def idf(t: str):
        return F.log(
            (F.col("n_docs").cast("double") + F.lit(1.0))
            / (F.col(f"df_{t}") + F.lit(1.0))
        )

    score = None
    anyhit = None
    for t in KW_TERMS:
        term = F.round(tf(t).cast("double") * idf(t), 6).cast(T.DecimalType(27, 6))
        score = term if score is None else score + term
        h = tf(t) > 0
        anyhit = h if anyhit is None else anyhit | h
    return stats, score, anyhit


@query("q_keyword_search", oracle=_kw_oracle())
def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval (TF-IDF ranked, BM25's ancestor): rank documents
    for a fixed conjunctive-ish query (docs matching ANY of KW_TERMS,
    scored Σ_t tf(t,d)·idf(t), smoothed idf = ln((N+1)/(df+1))) — the
    lexical half of a hybrid search stack (q_semantic_search is the dense
    half; q_hybrid_search_rrf fuses them).

    Scale shape: tf per term is ROW-LOCAL (filter over the token array —
    no explode, no shuffle of the corpus); document frequencies come from
    ONE tiny conditional aggregate (|terms| counters) broadcast back; the
    ranking is a global top-k (TakeOrdered heaps, no full sort). Float
    discipline: each tf·idf term is rounded to the 1e-6 grid and the
    |terms|-term sum is exact decimal addition in a FIXED order (the
    q_unigram_logprob rule) — the only cross-engine exposure is a libm ln
    ulp landing exactly on a grid boundary."""
    d = load_spread(spark, sf_dir, "documents")
    stats, score, anyhit = _kw_spark(d)
    return (
        d.crossJoin(F.broadcast(stats))
        .filter(anyhit)
        .select("doc_id", "lang", score.cast("double").alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(KW_TOPK)
    )


# BM25 parameters (Robertson et al.; the Lucene/Elasticsearch defaults).
BM25_K1 = 1.2
BM25_B = 0.75
# Literal spellings DERIVED from the constants and shared by both dialect
# builders (ADVICE r10: the builders previously hardcoded 2.2/1.2/0.25/0.75,
# so tuning the named constants silently changed nothing). repr() is exact
# shortest-round-trip for ANY double (ADVICE r11: %g keeps only 6
# significant digits, so a future tuned k1/b needing more would fail the
# assert below at import time, far from the tuning site); float(text) ==
# the derived double for all four, so the Spark F.lit values and the SQL
# literals stay value-identical. Today's texts are byte-identical to the
# %g spellings (2.2 / 1.2 / 0.25 / 0.75).
_BM25_K1P1 = repr(BM25_K1 + 1.0)  # tf multiplier k1+1
_BM25_K1S = repr(BM25_K1)  # saturation k1
_BM25_1MB = repr(1.0 - BM25_B)  # 1−b
_BM25_BS = repr(BM25_B)  # length-norm b
# bm25_rank's default-parameter call relies on these round-tripping: the
# derived doubles must BE the doubles the literal texts parse to.
assert (BM25_K1 + 1.0, BM25_K1, 1.0 - BM25_B, BM25_B) == tuple(
    float(s) for s in (_BM25_K1P1, _BM25_K1S, _BM25_1MB, _BM25_BS)
)


def _bm25_term_sql(t: str) -> str:
    """One BM25 term, spelled for BOTH dialects (every token parses
    identically in DuckDB and Spark SQL): idf(t) · tf·(k1+1) / (tf + k1·
    (1−b + b·dl/avgdl)) with the Lucene idf = ln(1 + (N−df+0.5)/(df+0.5))
    (always ≥ 0), rounded to the 1e-6 grid and decimal-cast so the
    |terms|-term sum is exact fixed-order addition (the q_keyword_search /
    q_unigram_logprob float rule). `dl`/`avgdl` are provided columns;
    operator spelling (left-assoc `a * b / c`, the _BM25_* literal texts)
    must stay textually identical to the Spark expression in the query
    body — both sides now derive the literals from BM25_K1/BM25_B."""
    tf = f"CAST({_kw_tf_sql(t)} AS DOUBLE)"
    idf = (
        f"ln(1.0 + (CAST(n_docs AS DOUBLE) - df_{t} + 0.5) / (df_{t} + 0.5))"
    )
    return (
        f"CAST(ROUND({idf} * ({tf} * {_BM25_K1P1}) / ({tf} + {_BM25_K1S} *"
        f" ({_BM25_1MB} + {_BM25_BS} *"
        f" (dl / avgdl))), 6) AS DECIMAL(27,6))"
    )


def _bm25_oracle() -> str:
    dfs = _kw_dfs_sql()
    score = " + ".join(_bm25_term_sql(t) for t in KW_TERMS)
    return f"""
    WITH stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
                   / CAST(COUNT(text) AS DOUBLE) AS avgdl,
               {dfs}
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, text,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
               n_docs, avgdl, {", ".join(f"df_{t}" for t in KW_TERMS)}
        FROM documents CROSS JOIN stats
        WHERE {_kw_anyhit_sql()}
    )
    SELECT doc_id, lang, CAST(({score}) AS DOUBLE) AS score
    FROM scored
    ORDER BY score DESC, doc_id ASC
    LIMIT {KW_TOPK}
    """


def bm25_rank(
    d: DataFrame,
    terms: tuple[str, ...],
    k1: float = BM25_K1,
    b: float = BM25_B,
    topk: int = KW_TOPK,
) -> DataFrame:
    """Library form of q_bm25_search over any (doc_id, lang, text)
    relation with caller-supplied terms/k1/b/topk — split out so the
    brute-force property twin (tests/test_properties.py) can certify the
    arithmetic on random in-memory corpora at non-default k1/b, the
    treatment setsim_join_sets got in r10. The default-parameter call is
    value-identical to the registered query: k1+1.0, k1, 1.0−b, b for the
    Lucene defaults reduce to the exact doubles the _BM25_* literal texts
    parse to (checked where the literals are derived).

    Scale shape (the q_keyword_search plan, unchanged by the richer
    arithmetic): tf and dl are ROW-LOCAL over the token array (no explode,
    no corpus shuffle); N, avgdl, and the |terms| document frequencies come
    from ONE tiny aggregate broadcast back; ranking is a global top-k
    (TakeOrdered heaps, no full sort). Float discipline: dl/avgdl and each
    BM25 term are IEEE double chains with textually identical spelling in
    both twins (avgdl = exact bigint token-count sum ÷ exact non-null
    count, one correctly-rounded division), each term rounded to the 1e-6
    grid then decimal-summed in fixed order — the only cross-engine
    exposure is a libm ln ulp landing exactly on a grid boundary, the
    standing q_keyword_search caveat. NULL-text docs: tf/dl are NULL, so
    they fail every `tf > 0` hit test in both engines and drop from N's
    avgdl numerator/denominator identically (SUM/COUNT skip NULL)."""
    toks = F.split("text", " ")

    def tf(t: str):
        return F.size(F.filter(toks, lambda x: x == F.lit(t)))

    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.size(toks)).cast("double")
            / F.count("text").cast("double")
        ).alias("avgdl"),
        *[F.count(F.when(tf(t) > 0, 1)).alias(f"df_{t}") for t in terms],
    )
    dl = F.size(toks).cast("double")
    score = None
    anyhit = None
    for t in terms:
        tfd = tf(t).cast("double")
        df = F.col(f"df_{t}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - df + F.lit(0.5))
            / (df + F.lit(0.5))
        )
        term = F.round(
            idf * (tfd * F.lit(k1 + 1.0))
            / (
                tfd
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * (dl / F.col("avgdl")))
            ),
            6,
        ).cast(T.DecimalType(27, 6))
        score = term if score is None else score + term
        h = tf(t) > 0
        anyhit = h if anyhit is None else anyhit | h
    return (
        d.crossJoin(F.broadcast(stats))
        .filter(anyhit)
        .select("doc_id", "lang", score.cast("double").alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(topk)
    )


@query("q_bm25_search", oracle=_bm25_oracle())
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (Robertson/Spärck Jones; the Lucene default
    scorer) — the production upgrade of q_keyword_search's raw TF-IDF:
    term frequency saturates (k1 = 1.2) and long documents are normalized
    against the corpus mean length (b = 0.75), so a 50k-token page can't
    outrank a short exact hit by repetition alone — exactly the property a
    crawl-scale lexical index needs. Plan shape, float discipline, and the
    NULL-text contract live on bm25_rank (the library form this thin
    registration delegates to with the KW_TERMS/Lucene defaults)."""
    return bm25_rank(load_spread(spark, sf_dir, "documents"), KW_TERMS)


def _rrf_oracle() -> str:
    # NOT a deferred import (ADVICE r8): the decorator argument below runs
    # this at text.py module-load time. The function-local import avoids a
    # cycle only because of the real invariant it depends on — vectors.py
    # must never import text.py at module level (it doesn't, and must not
    # start to; if that direction ever flips, move this oracle to lazy
    # construction instead).
    from ..operators.vectors import O_VEC_CONFORM as _O_VEC_CONFORM

    score = _kw_score_sql()
    dfs = _kw_dfs_sql()
    anyhit = _kw_anyhit_sql()
    return f"""
    WITH stats AS (SELECT COUNT(*) AS n_docs, {dfs} FROM documents),
    kw AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY CAST(({score}) AS DOUBLE) DESC,
                                  doc_id ASC) AS kw_rank
        FROM documents CROSS JOIN stats
        WHERE {anyhit}
        ORDER BY kw_rank LIMIT {KW_TOPK}
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
          WHERE vec_id = 0 AND {_O_VEC_CONFORM}),
    sem AS (
        SELECT vec_id AS doc_id,
               ROW_NUMBER() OVER (ORDER BY list_inner_product(qv, embedding::DOUBLE[]) DESC,
                                  vec_id ASC) AS sem_rank
        FROM embeddings CROSS JOIN q
        WHERE vec_id <> 0 AND {_O_VEC_CONFORM}
        ORDER BY sem_rank LIMIT {KW_TOPK}
    )
    SELECT COALESCE(kw.doc_id, sem.doc_id) AS doc_id,
           COALESCE(1.0 / ({RRF_K} + kw_rank), 0.0)
               + COALESCE(1.0 / ({RRF_K} + sem_rank), 0.0) AS rrf_score,
           COALESCE(kw_rank, 0) AS kw_rank,
           COALESCE(sem_rank, 0) AS sem_rank
    FROM kw FULL OUTER JOIN sem ON kw.doc_id = sem.doc_id
    ORDER BY rrf_score DESC, doc_id ASC
    LIMIT {KW_TOPK}
    """


@query("q_hybrid_search_rrf", oracle=_rrf_oracle())
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search via reciprocal-rank fusion (Cormack et al. '09): fuse
    the lexical top-k (q_keyword_search's TF-IDF ranking) with the dense
    top-k (cosine against query vector 0) as Σ 1/(K + rank) — the standard
    score-free fusion every hybrid retrieval stack ships, here as one
    full-outer join of two top-k lists.

    Determinism: fusion arithmetic is built ONLY from integer ranks
    (1/(60+r) — correctly-rounded IEEE division, two-term fixed-order sum),
    so no float discipline is needed beyond the two input rankings, each of
    which carries its own (rounded-grid TF-IDF / bit-identical dot) rule
    with id tie-breaks. Scale shape: both arms end in Q×K-row lists, so
    the fusion join is trivially broadcast; arm costs are the documented
    per-arm plans."""
    from ..operators.vectors import _dot, _embeddings, _finite_vec

    d = load_spread(spark, sf_dir, "documents")
    stats, score, anyhit = _kw_spark(d)
    # global top-k FIRST via orderBy+limit (TakeOrdered per-partition heaps
    # — no corpus-wide single-partition window), then rank the K survivors
    # with a window over K rows only
    wkw = Window.orderBy(F.col("kw_score").desc(), F.col("doc_id").asc())
    kw = (
        d.crossJoin(F.broadcast(stats))
        .filter(anyhit)
        .select("doc_id", score.cast("double").alias("kw_score"))
        .orderBy(F.col("kw_score").desc(), F.col("doc_id").asc())
        .limit(KW_TOPK)
        .withColumn("kw_rank", F.row_number().over(wkw))
        .select("doc_id", "kw_rank")
    )
    # sem arm population = the _finite_vec conformance contract (r8),
    # mirrored in the oracle's q/sem CTEs: a NaN-poisoned dot would
    # outrank every real hit in both engines otherwise
    e = _embeddings(spark, sf_dir).filter(_finite_vec(F.col("embedding")))
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    wsem = Window.orderBy(F.col("sim").desc(), F.col("doc_id").asc())
    sem = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            _dot(F.col("qv"), F.col("embedding")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("doc_id").asc())
        .limit(KW_TOPK)
        .withColumn("sem_rank", F.row_number().over(wsem))
        .select("doc_id", "sem_rank")
    )
    fused = (
        kw.withColumnRenamed("doc_id", "kw_id")
        .join(sem.withColumnRenamed("doc_id", "sem_id"),
              F.col("kw_id") == F.col("sem_id"), "full_outer")
        .select(
            F.coalesce("kw_id", "sem_id").alias("doc_id"),
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("kw_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("sem_rank")), F.lit(0.0)
                )
            ).alias("rrf_score"),
            F.coalesce("kw_rank", F.lit(0)).alias("kw_rank"),
            F.coalesce("sem_rank", F.lit(0)).alias("sem_rank"),
        )
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc()).limit(
        KW_TOPK
    )


# fixed quality-model weights (a trained classifier's coefficients would be
# broadcast the same way; literals keep the oracle self-contained)
QL_BIAS = -2.0
QL_W_TOKENS = 0.01
QL_W_TTR = 2.5
QL_W_MWL = 0.1


@query(
    "q_quality_logistic",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
               n_chars
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               ({QL_BIAS} + ({QL_W_TOKENS} * n_tokens))
                 + ({QL_W_TTR} * (CAST(n_types AS DOUBLE) / n_tokens))
                 + ({QL_W_MWL} * (CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens))
                   AS z
        FROM feats
    )
    SELECT doc_id, lang,
           ROUND(1.0 / (1.0 + exp(-z)), 4) AS quality_score,
           z > 0.0 AS keep
    FROM scored
    """,
)
def q_quality_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring — the fastText-classifier stand-in every
    published pretraining pipeline runs (CCNet/GPT-3's quality filter):
    a linear model over row-local features (token count, type-token ratio,
    mean word length) squashed through a sigmoid, plus the keep/drop
    decision. A trained model's coefficients would broadcast exactly like
    these literals; the feature extraction and scoring plan is the real
    part.

    Float discipline: z is rational arithmetic in one fixed
    parenthesization (bit-identical cross-engine), so the KEEP decision
    (z > 0 ⟺ score > ½) is exact — the only transcendental (exp) is
    display-only, rounded to the 1e-4 grid (libm 1-ulp differences flip a
    rounding only on a measure-zero boundary — the q_unigram_logprob
    precedent). Scale: fully row-local, codegen, zero shuffles."""
    d = load_spread(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    feats = d.select(
        "doc_id",
        "lang",
        F.size(ws).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("bigint").alias("n_types"),
        "n_chars",
    )
    z = (
        (F.lit(QL_BIAS) + (F.lit(QL_W_TOKENS) * F.col("n_tokens")))
        + (F.lit(QL_W_TTR) * (F.col("n_types").cast("double") / F.col("n_tokens")))
        + (
            F.lit(QL_W_MWL)
            * (
                (F.col("n_chars") - (F.col("n_tokens") - 1)).cast("double")
                / F.col("n_tokens")
            )
        )
    )
    scored = feats.select("doc_id", "lang", z.alias("z"))
    return scored.select(
        "doc_id",
        "lang",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 4).alias(
            "quality_score"
        ),
        (F.col("z") > 0.0).alias("keep"),
    )


# Gopher quality-rule thresholds — Rae et al. '21 (Gopher), Table A1's
# published document-filter battery, restated as INTEGER comparisons so
# both engines evaluate exact rational arithmetic (0.1 ⇔ ×10, 0.8 ⇔ 4/5,
# 0.3 ⇔ ×10 vs ×3 — no float ratio is ever materialized):
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 3  # mean word length lower bound (chars)
GOPHER_MAX_MWL = 10  # upper bound
# symbol-to-word ratio <= 0.1 over '#' and '...' occurrences;
# >= 90% of lines must not start with a bullet; <= 30% may end in ellipsis;
# >= 80% of words must contain an alphabetic character;
# >= 2 distinct members of the published stop-word set must appear:
GOPHER_STOP = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_RULES = (
    "words", "wordlen", "symbol", "bullet", "ellipsis", "alpha", "stop"
)


def gopher_doc_flags(
    d: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """DOC-level Gopher-rule conformance flags over (lang, text, n_chars)
    rows — one coalesced boolean per rule (``r_<rule>``) plus the
    full-battery ``gopher_pass`` — with ``carry`` columns passed through.
    The shared core of gopher_report and the corpus-filter funnel
    (r13): the report aggregates THIS relation, so the funnel's pass
    flag can never drift from the report's battery.

    Exactness: every rule is an integer comparison on row-local counts —
    word/line splits, LIKE/char-class membership, replace-length deltas —
    so the report is exact BIGINTs with no float anywhere. Mean word
    length reuses the established total-chars identity (n_chars −
    (n_words − 1), the q_quality_logistic spelling) behind the stats
    conformance guard (n_chars ∈ [0, N_CHARS_MAX] — an absurd sentinel
    must fail the rule, never ANSI-overflow the subtraction). NULL text /
    NULL n_chars make a rule NULL, coalesced to FALSE in both twins: a
    non-conforming document FAILS the battery, it does not vanish.

    Scale shape: fully row-local feature extraction inside whole-stage
    codegen (HOF filters over the split arrays — NO explode, so the
    InferFiltersFromGenerate O(n²) class cannot arise), then ONE |langs|-
    group aggregate with map-side partials. Zero joins; the corpus is
    read once and never shuffled (only the tiny final aggregate moves)."""
    toks = F.split("text", " ")
    lns = F.split("text", "\n")
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOP])
    t = d.select(
        *carry,
        "lang",
        F.size(toks).cast("bigint").alias("n_words"),
        F.when(
            (F.col("n_chars") >= 0) & (F.col("n_chars") <= N_CHARS_MAX),
            F.col("n_chars"),
        ).alias("g_chars"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
        ).cast("bigint").alias("n_hash"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
        ).cast("bigint").alias("ell_chars"),
        F.size(
            F.filter(lns, lambda x: x.startswith("- ") | x.startswith("• "))
        ).cast("bigint").alias("n_bullet"),
        F.size(
            F.filter(lns, lambda x: x.endswith("...") | x.endswith("…"))
        ).cast("bigint").alias("n_ellline"),
        F.size(lns).cast("bigint").alias("n_lines"),
        F.size(
            F.filter(toks, lambda x: x.rlike("[A-Za-z]"))
        ).cast("bigint").alias("n_alpha"),
        F.size(F.array_intersect(toks, stop_arr)).cast("bigint").alias(
            "n_stopkinds"
        ),
    )
    wl = F.col("g_chars") - (F.col("n_words") - F.lit(1))
    rules = {
        "words": F.col("n_words").between(
            GOPHER_MIN_WORDS, GOPHER_MAX_WORDS
        ),
        "wordlen": (F.lit(GOPHER_MIN_MWL) * F.col("n_words") <= wl)
        & (wl <= F.lit(GOPHER_MAX_MWL) * F.col("n_words")),
        "symbol": (F.lit(10) * F.col("n_hash") <= F.col("n_words"))
        & (F.lit(10) * F.col("ell_chars") <= F.lit(3) * F.col("n_words")),
        "bullet": F.lit(10) * F.col("n_bullet")
        <= F.lit(9) * F.col("n_lines"),
        "ellipsis": F.lit(10) * F.col("n_ellline")
        <= F.lit(3) * F.col("n_lines"),
        "alpha": F.lit(5) * F.col("n_alpha") >= F.lit(4) * F.col("n_words"),
        "stop": F.col("n_stopkinds") >= F.lit(2),
    }
    conf = {k: F.coalesce(rules[k], F.lit(False)) for k in _GOPHER_RULES}
    allpass = None
    for k in _GOPHER_RULES:
        allpass = conf[k] if allpass is None else allpass & conf[k]
    return t.select(
        *carry,
        "lang",
        *[conf[k].alias(f"r_{k}") for k in _GOPHER_RULES],
        allpass.alias("gopher_pass"),
    )


def gopher_report(d: DataFrame) -> DataFrame:
    """Per-lang Gopher-rules quality report (Rae et al. '21): document
    counts, full-battery pass count, and per-rule failure counts over
    (lang, text, n_chars) rows — ONE aggregate over gopher_doc_flags.
    Library form so the planted-document pins can drive each rule on
    constructed frames (the bm25_rank precedent); see gopher_doc_flags
    for the exactness/conformance contract and the plan shape (the flag
    projection collapses into the aggregate — zero joins, one exchange)."""
    f = gopher_doc_flags(d)
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("gopher_pass"), 1)).alias("n_pass"),
        *[
            F.count(F.when(~F.col(f"r_{k}"), 1)).alias(f"n_fail_{k}")
            for k in _GOPHER_RULES
        ],
    )


_GOPHER_PASS_SQL = (
    "r_words AND r_wordlen AND r_symbol AND r_bullet AND r_ellipsis"
    " AND r_alpha AND r_stop"
)


def _gopher_doc_cte(src: str = "documents", t: str = "t", r: str = "r") -> str:
    """The per-doc Gopher-rule CTE pair (features + coalesced flags),
    doc_id carried — the shared SQL core of the report oracle and the
    corpus-filter funnel oracle (the twin of gopher_doc_flags)."""
    stop_list = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOP) + "]"
    return f"""{t} AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CASE WHEN n_chars BETWEEN 0 AND {N_CHARS_MAX}
                    THEN n_chars END AS g_chars,
               CAST(length(text) - length(replace(text, '#', ''))
                    AS BIGINT) AS n_hash,
               CAST(length(text) - length(replace(text, '...', ''))
                    AS BIGINT) AS ell_chars,
               CAST(len(list_filter(string_split(text, chr(10)),
                    l -> l LIKE '- %' OR l LIKE '• %')) AS BIGINT)
                   AS n_bullet,
               CAST(len(list_filter(string_split(text, chr(10)),
                    l -> l LIKE '%...' OR l LIKE '%…')) AS BIGINT)
                   AS n_ellline,
               CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
                   AS n_alpha,
               CAST(len(list_intersect(string_split(text, ' '),
                    {stop_list})) AS BIGINT) AS n_stopkinds
        FROM {src}
    ),
    {r} AS (
        SELECT doc_id, lang,
               COALESCE(n_words BETWEEN {GOPHER_MIN_WORDS}
                        AND {GOPHER_MAX_WORDS}, FALSE) AS r_words,
               COALESCE({GOPHER_MIN_MWL} * n_words
                            <= g_chars - (n_words - 1)
                        AND g_chars - (n_words - 1)
                            <= {GOPHER_MAX_MWL} * n_words,
                        FALSE) AS r_wordlen,
               COALESCE(10 * n_hash <= n_words
                        AND 10 * ell_chars <= 3 * n_words,
                        FALSE) AS r_symbol,
               COALESCE(10 * n_bullet <= 9 * n_lines, FALSE) AS r_bullet,
               COALESCE(10 * n_ellline <= 3 * n_lines, FALSE) AS r_ellipsis,
               COALESCE(5 * n_alpha >= 4 * n_words, FALSE) AS r_alpha,
               COALESCE(n_stopkinds >= 2, FALSE) AS r_stop
        FROM {t}
    )"""


def _gopher_oracle() -> str:
    return f"""
    WITH {_gopher_doc_cte()}
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE {_GOPHER_PASS_SQL})
               AS n_pass,
           COUNT(*) FILTER (WHERE NOT r_words) AS n_fail_words,
           COUNT(*) FILTER (WHERE NOT r_wordlen) AS n_fail_wordlen,
           COUNT(*) FILTER (WHERE NOT r_symbol) AS n_fail_symbol,
           COUNT(*) FILTER (WHERE NOT r_bullet) AS n_fail_bullet,
           COUNT(*) FILTER (WHERE NOT r_ellipsis) AS n_fail_ellipsis,
           COUNT(*) FILTER (WHERE NOT r_alpha) AS n_fail_alpha,
           COUNT(*) FILTER (WHERE NOT r_stop) AS n_fail_stop
    FROM r GROUP BY lang
    """


@query("q_gopher_rules", oracle=_gopher_oracle())
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules quality-filter report (Rae et al. 2021, Table A1 —
    the published heuristic battery that q_quality_logistic's trained
    stand-in approximates, VERDICT r11 #7a): per lang, how many documents
    pass ALL rules and how many fail each of the seven — word count in
    [50, 100k], mean word length in [3, 10], symbol-to-word ratio ≤ 0.1
    for EACH symbol separately ('#' and '...' — the published battery
    applies the 0.1 bound per symbol, not pooled), ≤ 90% bullet-started
    lines (Table A1 removes only when MORE than 90% of lines start with
    a bullet), ≤ 30% ellipsis-ended lines, ≥ 80% alphabetic words, and
    ≥ 2 distinct published stop words.
    This is the report a corpus build reads to pick which rules to relax
    per source before committing a filter pass over 100 TB.

    All rules are integer comparisons (see gopher_report) so the report
    is exact BIGINTs — full hash oracle with zero float exposure."""
    return gopher_report(load_spread(spark, sf_dir, "documents"))


# Gopher REPETITION thresholds — Rae et al. '21 Table A1's second battery
# (the within-document repetition signals; the same values FineWeb/Dolma
# reuse). A document FAILS a signal when its fraction EXCEEDS the
# threshold; thresholds are exact percents so every test below is an
# integer comparison (100·metric > pct·denominator).
GOPHER_REP_PCT = {
    "dupline": 30,        # repeated-line instances / lines
    "dupline_chars": 20,  # chars in lines occurring more than once / chars
    "top2": 20,           # chars of the char-heaviest 2-gram run / chars
    "top3": 18,
    "top4": 16,
    "dup5": 15,           # chars in 5-grams occurring more than once / chars
    "dup6": 14,
    "dup7": 13,
    "dup8": 12,
    "dup9": 11,
    "dup10": 10,
}
_REP_TOP_NS = (2, 3, 4)
_REP_DUP_NS = (5, 6, 7, 8, 9, 10)


def _sorted_grams(t, n: int):
    """Sorted n-gram array built ROW-LOCAL from the token array as a
    CHAIN OF ZIP_WITHS over n top-level slices — deliberately NOT
    element_at(t, i) inside a transform lambda: Spark's interpreted HOF
    evaluation re-evaluates a non-lambda-variable subtree (here the
    split() feeding t) on EVERY element reference, turning the build
    O(tokens²) per document (measured: 10 × 50k-token docs never
    finished; the HOF-lambda sibling of the InferFiltersFromGenerate
    re-evaluation class). zip_with lambdas touch ONLY their lambda
    variables, so t is evaluated a constant n times (the slices) per row
    regardless of projection collapse. The m < n guard dodges Spark's
    descending sequence trap analog (negative slice length). Sorting
    groups equal grams adjacently — the only property the run statistics
    need, and one ANY shared total order provides."""
    width = F.size(t) - n + 1
    acc = F.slice(t, 1, width)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(t, 1 + j, width),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_sort(
        F.when(F.size(t) >= n, acc).otherwise(
            F.array().cast("array<string>")
        )
    )


def _run_stats(s):
    """ALL run statistics of a SORTED array in ONE fixed-order fold —
    struct(best, dup, inst): best = max over runs of run·len(value) (the
    char-heaviest run), dup = char mass over all instances of values with
    run ≥ 2, inst = instances beyond the first of each repeated value.
    One fold per family keeps the sorted-gram subtree referenced exactly
    ONCE, so projection collapse cannot multiply the build/sort cost; the
    lambda touches only acc/x. Spark's neutral init ('' / zeros) folded
    over ALL elements is provably identical to DuckDB list_reduce's
    first-element init (case analysis incl. an '' first element — the
    else-branch closes a zero-length run: closed = 0·len('') = 0, dup
    unchanged at run 0 < 2, inst += greatest(-1, 0) = 0)."""
    zero = F.lit(0).cast("bigint")
    init = F.struct(
        F.lit("").alias("g"),
        zero.alias("run"),
        zero.alias("best"),
        zero.alias("dup"),
        zero.alias("inst"),
    )

    def merge(acc, x):
        closed = acc["run"] * F.length(acc["g"])
        return F.when(
            x == acc["g"],
            F.struct(
                acc["g"].alias("g"),
                (acc["run"] + 1).alias("run"),
                acc["best"].alias("best"),
                acc["dup"].alias("dup"),
                acc["inst"].alias("inst"),
            ),
        ).otherwise(
            F.struct(
                x.alias("g"),
                F.lit(1).cast("bigint").alias("run"),
                F.greatest(acc["best"], closed).alias("best"),
                (
                    acc["dup"]
                    + F.when(acc["run"] >= 2, closed).otherwise(zero)
                ).alias("dup"),
                (
                    acc["inst"] + F.greatest(acc["run"] - 1, zero)
                ).alias("inst"),
            )
        )

    def finish(acc):
        closed = acc["run"] * F.length(acc["g"])
        return F.struct(
            F.greatest(acc["best"], closed).alias("best"),
            (
                acc["dup"] + F.when(acc["run"] >= 2, closed).otherwise(zero)
            ).alias("dup"),
            (acc["inst"] + F.greatest(acc["run"] - 1, zero)).alias("inst"),
        )

    return F.aggregate(s, init, merge, finish)


def repetition_stats(
    d: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Per-document Gopher repetition metrics (exact BIGINT char/instance
    masses; fractions never materialize — the report compares
    100·metric > pct·denominator). Library form so the hypothesis twin
    can drive random token lists against a Python Counter reference.

    Scale shape: ZERO shuffles — every metric is a row-local sort + ONE
    fused fold over the doc's own gram arrays (vs the explode +
    per-(doc, gram) groupBy alternative, which shuffles ~9× the corpus's
    token volume); only the final per-lang aggregate in the report moves
    rows. Each family's sorted-gram subtree appears exactly once (inside
    its fold), so CollapseProject cannot multiply the build/sort cost —
    see _sorted_grams/_run_stats for the re-evaluation classes this
    dodges."""
    toks = F.split("text", " ")
    line_stats = _run_stats(F.array_sort(F.split("text", "\n")))
    base = d.filter(F.col("text").isNotNull()).select(
        *carry,
        "doc_id",
        "lang",
        F.length("text").cast("bigint").alias("chars"),
        F.size(F.split("text", "\n")).cast("bigint").alias("n_lines"),
        line_stats.alias("lstats"),
        *[
            _run_stats(_sorted_grams(toks, n)).alias(f"s{n}")
            for n in (*_REP_TOP_NS, *_REP_DUP_NS)
        ],
    )
    return base.select(
        *carry,
        "doc_id",
        "lang",
        "chars",
        "n_lines",
        F.col("lstats")["inst"].alias("dupline_inst"),
        F.col("lstats")["dup"].alias("dupline_chars"),
        *[
            F.col(f"s{n}")["best"].alias(f"top{n}_chars")
            for n in _REP_TOP_NS
        ],
        *[
            F.col(f"s{n}")["dup"].alias(f"dup{n}_chars")
            for n in _REP_DUP_NS
        ],
    )


_REP_ORDER = ["dupline", "dupline_chars"] + [
    f"top{n}" for n in _REP_TOP_NS
] + [f"dup{n}" for n in _REP_DUP_NS]


def repetition_doc_flags(
    d: DataFrame,
    pct: dict[str, int] | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """DOC-level repetition failure flags (``f_<signal>`` per _REP_ORDER
    member) plus the full-battery ``rep_pass``, with ``carry`` columns
    passed through — the shared core of gopher_repetition_report and the
    corpus-filter funnel (r13). ``pct`` overrides the published
    thresholds so the hypothesis twin can draw RANDOM grid points —
    certifying the 100·metric > pct·denominator integer restatement
    itself, not just its value at the published constants (VERDICT r12
    #4); the query always runs the default."""
    if pct is None:
        pct = GOPHER_REP_PCT
    m = repetition_stats(d, carry=carry)
    fails = {
        "dupline": F.lit(100) * F.col("dupline_inst")
        > F.lit(pct["dupline"]) * F.col("n_lines"),
        "dupline_chars": F.lit(100) * F.col("dupline_chars")
        > F.lit(pct["dupline_chars"]) * F.col("chars"),
    }
    for n in _REP_TOP_NS:
        fails[f"top{n}"] = F.lit(100) * F.col(f"top{n}_chars") > F.lit(
            pct[f"top{n}"]
        ) * F.col("chars")
    for n in _REP_DUP_NS:
        fails[f"dup{n}"] = F.lit(100) * F.col(f"dup{n}_chars") > F.lit(
            pct[f"dup{n}"]
        ) * F.col("chars")
    allpass = None
    for k in _REP_ORDER:
        ok = ~fails[k]
        allpass = ok if allpass is None else allpass & ok
    return m.select(
        *carry,
        "doc_id",
        "lang",
        *[fails[k].alias(f"f_{k}") for k in _REP_ORDER],
        allpass.alias("rep_pass"),
    )


def gopher_repetition_report(
    d: DataFrame, pct: dict[str, int] | None = None
) -> DataFrame:
    """Per-lang Gopher repetition report: document counts, full-battery
    pass count, per-signal failure counts (see GOPHER_REP_PCT) — ONE
    aggregate over repetition_doc_flags (the flag projection collapses
    into the aggregate; plan shape unchanged)."""
    f = repetition_doc_flags(d, pct)
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("rep_pass"), 1)).alias("n_pass"),
        *[
            F.count(F.when(F.col(f"f_{k}"), 1)).alias(f"n_fail_{k}")
            for k in _REP_ORDER
        ],
    )


def _rep_sorted_gram_sql(n: int) -> str:
    from .dedup import _elem_gram_sql

    return (
        f"list_sort(CASE WHEN len(t) >= {n} THEN list_transform("
        f"generate_series(1, len(t) - {n - 1}), "
        f"i -> {_elem_gram_sql('t', n)}) ELSE [] END)"
    )


def _rep_fold_sql(s: str) -> str:
    """The DuckDB twin of _run_stats: ONE fused list_reduce over the
    sorted array with a (g, run, best, dup, inst) struct accumulator.
    list_reduce's first-element init is provably identical to the Spark
    side's neutral init (see _run_stats). NULL on an empty array — the
    finalize extractors below render that as all-zero stats."""
    acc_g = "struct_extract(acc,'g')"
    acc_r = "struct_extract(acc,'run')"
    acc_b = "struct_extract(acc,'best')"
    acc_d = "struct_extract(acc,'dup')"
    acc_i = "struct_extract(acc,'inst')"
    e_g = "struct_extract(e,'g')"
    closed = f"{acc_r} * length({acc_g})"
    reduce = (
        f"list_reduce(list_transform({s}, x -> "
        "{'g': x, 'run': CAST(1 AS BIGINT), 'best': CAST(0 AS BIGINT), "
        "'dup': CAST(0 AS BIGINT), 'inst': CAST(0 AS BIGINT)}), "
        f"(acc, e) -> CASE WHEN {e_g} = {acc_g} THEN "
        f"{{'g': {acc_g}, 'run': {acc_r} + 1, 'best': {acc_b}, "
        f"'dup': {acc_d}, 'inst': {acc_i}}} ELSE "
        f"{{'g': {e_g}, 'run': CAST(1 AS BIGINT), "
        f"'best': greatest({acc_b}, {closed}), "
        f"'dup': {acc_d} + CASE WHEN {acc_r} >= 2 THEN {closed} "
        f"ELSE CAST(0 AS BIGINT) END, "
        f"'inst': {acc_i} + greatest({acc_r} - 1, CAST(0 AS BIGINT))}} END)"
    )
    return f"CASE WHEN len({s}) = 0 THEN NULL ELSE {reduce} END"


def _rep_final_sql(r: str, field: str) -> str:
    """Finalize-extract one statistic from a _rep_fold_sql struct: close
    the trailing run exactly as the Spark finish lambda does."""
    g = f"struct_extract({r},'g')"
    run = f"struct_extract({r},'run')"
    closed = f"{run} * length({g})"
    if field == "best":
        body = f"greatest(struct_extract({r},'best'), {closed})"
    elif field == "dup":
        body = (
            f"struct_extract({r},'dup') + CASE WHEN {run} >= 2 "
            f"THEN {closed} ELSE CAST(0 AS BIGINT) END"
        )
    else:
        body = (
            f"struct_extract({r},'inst') + greatest({run} - 1, "
            "CAST(0 AS BIGINT))"
        )
    return f"CAST(CASE WHEN {r} IS NULL THEN 0 ELSE {body} END AS BIGINT)"


def _rep_fail_exprs(qual: str = "") -> dict[str, str]:
    """The 11 threshold-failure predicate strings (100·metric >
    pct·denominator), column refs optionally qualified (``qual`` =
    e.g. ``"rm."`` for the funnel join) — shared by the report oracle
    and the corpus-filter funnel oracle."""

    def metric(k: str) -> str:
        if k == "dupline":
            return "dupline_inst"
        if k == "dupline_chars":
            return "dupline_chars"
        return f"{k}_chars"

    def denom(k: str) -> str:
        return "n_lines" if k == "dupline" else "chars"

    return {
        k: f"100 * {qual}{metric(k)} > {GOPHER_REP_PCT[k]} * {qual}{denom(k)}"
        for k in _REP_ORDER
    }


def _rep_doc_cte(
    src: str = "documents",
    base: str = "base",
    folds: str = "folds",
    m: str = "m",
) -> str:
    """The per-doc repetition-metric CTE triple (gram build → fused
    folds → metrics), doc_id carried — the shared SQL core of the report
    oracle and the corpus-filter funnel oracle (the twin of
    repetition_stats)."""
    gram_cols = ",\n               ".join(
        f"{_rep_sorted_gram_sql(n)} AS g{n}"
        for n in (*_REP_TOP_NS, *_REP_DUP_NS)
    )
    fold_cols = ",\n               ".join(
        [f"{_rep_fold_sql('ls')} AS rl"]
        + [
            f"{_rep_fold_sql(f'g{n}')} AS r{n}"
            for n in (*_REP_TOP_NS, *_REP_DUP_NS)
        ]
    )
    top_cols = ",\n               ".join(
        f"{_rep_final_sql(f'r{n}', 'best')} AS top{n}_chars"
        for n in _REP_TOP_NS
    )
    dup_cols = ",\n               ".join(
        f"{_rep_final_sql(f'r{n}', 'dup')} AS dup{n}_chars"
        for n in _REP_DUP_NS
    )
    return f"""{base} AS (
        SELECT doc_id, lang,
               CAST(length(text) AS BIGINT) AS chars,
               CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
               list_sort(string_split(text, chr(10))) AS ls,
               {gram_cols}
        FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS t
              FROM {src} WHERE text IS NOT NULL)
    ),
    {folds} AS (
        SELECT *,
               {fold_cols}
        FROM {base}
    ),
    {m} AS (
        SELECT doc_id, lang, chars, n_lines,
               {_rep_final_sql("rl", "inst")} AS dupline_inst,
               {_rep_final_sql("rl", "dup")} AS dupline_chars,
               {top_cols},
               {dup_cols}
        FROM {folds}
    )"""


def _gopher_repetition_oracle() -> str:
    fail_exprs = _rep_fail_exprs()
    fail_counts = ",\n           ".join(
        f"COUNT(*) FILTER (WHERE {fail_exprs[k]}) AS n_fail_{k}"
        for k in _REP_ORDER
    )
    allpass = " AND ".join(f"NOT ({fail_exprs[k]})" for k in _REP_ORDER)
    return f"""
    WITH {_rep_doc_cte()}
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE {allpass}) AS n_pass,
           {fail_counts}
    FROM m GROUP BY lang
    """


@query("q_gopher_repetition", oracle=_gopher_repetition_oracle())
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher REPETITION battery (Rae et al. 2021, Table A1's second
    half — the within-document repetition signals FineWeb/Dolma reuse
    verbatim): per lang, documents failing each of the 11 published
    thresholds — repeated-line instance fraction > 0.30, repeated-line
    char fraction > 0.20, char mass of the heaviest {2,3,4}-gram >
    {0.20, 0.18, 0.16}, chars in duplicated {5..10}-grams >
    {0.15 … 0.10} — plus the full-battery pass count. Conventions
    documented at GOPHER_REP_PCT / repetition_stats: instance fraction
    counts occurrences beyond the first; char fractions count ALL
    instances of repeated values; the top-n statistic is the
    char-heaviest run (count × gram length — tie-free, so no cross-engine
    tie-break is ever needed); denominators are length(text) and the
    line count; this corpus has no paragraph axis (single-newline lines
    only), so the paper's paragraph twins of the two line signals are
    deliberately not duplicated.

    Exactness: every metric is an exact BIGINT char/instance mass from
    sorted-array run statistics; thresholds compare 100·metric >
    pct·denominator — no float exists anywhere in the query.

    Scale shape: ZERO data shuffles — sorts and folds are row-local over
    each doc's own gram arrays (the explode + per-(doc,gram) groupBy
    alternative would shuffle ~9× the corpus token volume); the single
    exchange is the |langs|-group aggregate with map-side partials. The
    fold is one pass per gram family; both engines run the IDENTICAL
    (gram, run, best) recurrence (Spark aggregate with a neutral init ≡
    DuckDB list_reduce's first-element init — equivalence argued at
    _run_stats, property-tested on random corpora)."""
    return gopher_repetition_report(load_spread(spark, sf_dir, "documents"))


# C4 cleaning heuristics — Raffel et al. '20 §2.2 (the battery behind the
# C4 corpus; the complement of the Gopher batteries above: C4 KEEPS lines
# and DROPS pages). The published bad-word screen uses an external
# blocklist; shipping one is out of scope, so a neutral stand-in list
# stands where a deployment would broadcast the real one (documented —
# the PLUMBING, token-level membership against a tiny broadcast list, is
# the operator).
C4_BADWORDS = ("badtok0", "badtok1")
C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3


def c4_doc_flags(d: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """DOC-level C4 flags over (lang, text) rows — line stats (n_lines,
    n_kept), the four page-drop flags, and the page-level ``c4_keep`` —
    with ``carry`` columns passed through. The shared core of c4_report
    and the corpus-filter funnel (r13): a line survives iff it ends in
    terminal punctuation . ! ? ", has >= 5 words, and does not mention
    'javascript' case-insensitively; a page survives iff no 'lorem
    ipsum', no '{', no bad-word TOKEN, and >= 3 sentences among KEPT
    lines (sentence count = terminal-punctuation characters in kept
    lines). Exact BIGINTs; NULL-text rows are outside the population by
    contract (the repetition/DSIR convention). Fully row-local HOF
    filters and replace-length counts — no explode, no joins, no
    Python."""
    lns = F.split("text", "\n")

    def keep(x):
        words = F.size(F.split(x, " "))
        ends = (
            x.endswith(".") | x.endswith("!")
            | x.endswith("?") | x.endswith('"')
        )
        return (
            ends
            & (words >= C4_MIN_LINE_WORDS)
            & ~F.lower(x).contains("javascript")
        )

    kept = F.filter(lns, keep)

    def punct_count(x):
        stripped = F.replace(
            F.replace(
                F.replace(x, F.lit("."), F.lit("")), F.lit("!"), F.lit("")
            ),
            F.lit("?"),
            F.lit(""),
        )
        return (F.length(x) - F.length(stripped)).cast("bigint")

    n_sent = F.aggregate(
        kept,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + punct_count(x),
    )
    low = F.lower("text")
    toks_low = F.split(low, " ")
    bad = F.size(
        F.array_intersect(toks_low, F.array(*[F.lit(w) for w in C4_BADWORDS]))
    ) > 0
    t = d.filter(F.col("text").isNotNull()).select(
        *carry,
        "lang",
        F.size(lns).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept"),
        n_sent.alias("n_sent"),
        low.contains("lorem ipsum").alias("f_lorem"),
        F.col("text").contains("{").alias("f_brace"),
        bad.alias("f_bad"),
    )
    f_short = F.col("n_sent") < C4_MIN_SENTENCES
    retained = ~F.col("f_lorem") & ~F.col("f_brace") & ~F.col("f_bad") & ~f_short
    return t.select(
        *carry,
        "lang",
        "n_lines",
        "n_kept",
        "f_lorem",
        "f_brace",
        "f_bad",
        f_short.alias("f_short"),
        retained.alias("c4_keep"),
    )


def c4_report(d: DataFrame) -> DataFrame:
    """Per-lang C4 cleaning report (Raffel et al. '20 §2.2) — ONE
    aggregate over c4_doc_flags (see it for the rule battery and the
    exactness/population contract; the flag projection collapses into
    the aggregate — no explode, no joins, one exchange)."""
    f = c4_doc_flags(d)
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_lines").alias("n_lines"),
        F.sum("n_kept").alias("n_kept_lines"),
        F.count(F.when(F.col("f_lorem"), 1)).alias("n_fail_lorem"),
        F.count(F.when(F.col("f_brace"), 1)).alias("n_fail_brace"),
        F.count(F.when(F.col("f_bad"), 1)).alias("n_fail_badword"),
        F.count(F.when(F.col("f_short"), 1)).alias("n_fail_sentences"),
        F.count(F.when(F.col("c4_keep"), 1)).alias("n_retained"),
    )


_C4_KEEP_SQL = (
    "NOT f_lorem AND NOT f_brace AND NOT f_bad"
    f" AND n_sent >= {C4_MIN_SENTENCES}"
)


def _c4_doc_cte(src: str = "documents", t: str = "t", m: str = "m") -> str:
    """The per-doc C4 CTE pair (line filter + page stats), doc_id
    carried — the shared SQL core of the report oracle and the
    corpus-filter funnel oracle (the twin of c4_doc_flags)."""
    bad_list = "[" + ", ".join(f"'{w}'" for w in C4_BADWORDS) + "]"
    keep = (
        "(l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%\"')"
        f" AND len(string_split(l, ' ')) >= {C4_MIN_LINE_WORDS}"
        " AND NOT contains(lower(l), 'javascript')"
    )
    punct = (
        "length(x) - length(replace(replace(replace(x, '.', ''),"
        " '!', ''), '?', ''))"
    )
    return f"""{t} AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
               list_filter(string_split(text, chr(10)), l -> {keep}) AS kept,
               contains(lower(text), 'lorem ipsum') AS f_lorem,
               contains(text, '{{') AS f_brace,
               len(list_intersect(string_split(lower(text), ' '),
                   {bad_list})) > 0 AS f_bad
        FROM {src} WHERE text IS NOT NULL
    ),
    {m} AS (
        SELECT doc_id, lang, n_lines, f_lorem, f_brace, f_bad,
               CAST(len(kept) AS BIGINT) AS n_kept,
               CAST(COALESCE(list_sum(list_transform(kept,
                   x -> {punct})), 0) AS BIGINT) AS n_sent
        FROM {t}
    )"""


def _c4_oracle() -> str:
    return f"""
    WITH {_c4_doc_cte()}
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_lines) AS BIGINT) AS n_lines,
           CAST(SUM(n_kept) AS BIGINT) AS n_kept_lines,
           COUNT(*) FILTER (WHERE f_lorem) AS n_fail_lorem,
           COUNT(*) FILTER (WHERE f_brace) AS n_fail_brace,
           COUNT(*) FILTER (WHERE f_bad) AS n_fail_badword,
           COUNT(*) FILTER (WHERE n_sent < {C4_MIN_SENTENCES})
               AS n_fail_sentences,
           COUNT(*) FILTER (WHERE {_C4_KEEP_SQL}) AS n_retained
    FROM m GROUP BY lang
    """


@query("q_c4_filters", oracle=_c4_oracle())
def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning-heuristics report (Raffel et al. 2020 §2.2 — the
    battery that produced the C4 corpus, the third published filter
    family alongside the two Gopher batteries): per lang, total vs
    surviving line counts under the line rules (terminal punctuation,
    >= 5 words, no 'javascript'), and page-drop counts for 'lorem
    ipsum', '{{', bad-word tokens (stand-in list — see C4_BADWORDS), and
    the < 3-sentences rule evaluated on the KEPT lines. Exact-integer
    output, full hash oracle; SUM(n_lines/n_kept) are counts of
    corpus-bounded list lengths (< 2^30 per doc), so the bigint sums
    cannot overflow ANSI at any real scale."""
    return c4_report(load_spread(spark, sf_dir, "documents"))


CCNET_BUCKETS = 3  # head / middle / tail (Wenzek et al. '20)


@query(
    "q_ccnet_buckets",
    oracle=f"""
    WITH {_unigram_scores_sql(("lang",))},
    rk AS (
        SELECT lang, n_tokens, sum_logp / n_tokens AS mean_logp,
               NTILE({CCNET_BUCKETS}) OVER (PARTITION BY lang
                   ORDER BY sum_logp / n_tokens DESC, doc_id ASC) AS bucket
        FROM sc
    )
    SELECT lang, bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(mean_logp) AS min_mean_logp,
           MAX(mean_logp) AS max_mean_logp
    FROM rk GROUP BY lang, bucket
    """,
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    document within its language by PER-TOKEN corpus-LM log probability
    (the perplexity proxy — q_unigram_logprob's score over token count)
    and split into head/middle/tail thirds; report each bucket's doc
    count, token mass, and score range. The head/middle/tail split is the
    published selection knob (CCNet trains on head+middle, audits tail).
    The scores are q_unigram_logprob's own (unigram_doc_scores and its
    oracle CTEs, with lang carried through the per-doc aggregate), so the
    two cannot drift.

    Float discipline: mean_logp = sum_logp / n_tokens is one correctly-
    rounded IEEE division of bit-identical operands (never re-rounded —
    the registry rnd rule), so the NTILE order (mean DESC, doc_id ASC)
    and the bucket min/max are cross-engine deterministic.

    Scale shape: the q_unigram_logprob plan (vocab-bounded unigram
    aggregate, token→count hash join, per-doc aggregate) plus one
    |lang|-partitioned window over the DOC-level relation (corpus-scale
    text never enters the window — only (lang, n_tokens, mean) rows) and
    a ≤ |langs|·{CCNET_BUCKETS}-group final aggregate."""
    sc = unigram_doc_scores(load_spread(spark, sf_dir, "documents"), ("lang",))
    mean = F.col("sum_logp") / F.col("n_tokens")
    w = Window.partitionBy("lang").orderBy(
        mean.desc(), F.col("doc_id").asc()
    )
    rk = sc.select(
        "lang",
        "n_tokens",
        mean.alias("mean_logp"),
        F.ntile(CCNET_BUCKETS).over(w).alias("bucket"),
    )
    return rk.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("mean_logp").alias("min_mean_logp"),
        F.max("mean_logp").alias("max_mean_logp"),
    )


# --------------------------------------------------------------------------
# The full published filter stack as one attrition funnel (r13) — the
# FineWeb-style pipeline: C4 cleaning + Gopher quality rules + Gopher
# repetition, per-doc flags from the SAME shared cores the three
# drill-down reports aggregate (gopher_doc_flags / c4_doc_flags /
# repetition_doc_flags — the composite cannot drift from the
# drill-downs, the discipline q_decontaminate_report follows too).
# --------------------------------------------------------------------------


def corpus_filter_funnel(d: DataFrame) -> DataFrame:
    """Per-lang attrition funnel over documents WITH text (the filterable
    population — a production pass drops NULL payloads before any rule
    runs): independent pass counts for each battery (n_c4, n_rules,
    n_rep), the sequential survivor counts in the published order
    (n_c4_rules = C4 ∧ rules; n_kept = all three), and n_docs. The
    single number a corpus build reads before committing the filter
    pass: how much of each source survives the full stack.

    Scale shape: ONE corpus pass — the three flag stages are chained
    row-local projections (each battery's expensive subtrees — the
    repetition folds, the rule HOFs — are referenced exactly once in
    the flag columns; Spark's subexpression elimination covers the
    flags' reuse across the aggregate's conditional counts), then one
    |langs|-group aggregate. No explode, no joins, no Python."""
    base = d.filter(F.col("text").isNotNull())
    g = gopher_doc_flags(base, carry=("doc_id", "text"))
    c = c4_doc_flags(g, carry=("doc_id", "text", "gopher_pass"))
    r = repetition_doc_flags(c, carry=("gopher_pass", "c4_keep"))
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("c4_keep"), 1)).alias("n_c4"),
        F.count(F.when(F.col("gopher_pass"), 1)).alias("n_rules"),
        F.count(F.when(F.col("rep_pass"), 1)).alias("n_rep"),
        F.count(
            F.when(F.col("c4_keep") & F.col("gopher_pass"), 1)
        ).alias("n_c4_rules"),
        F.count(
            F.when(
                F.col("c4_keep") & F.col("gopher_pass") & F.col("rep_pass"),
                1,
            )
        ).alias("n_kept"),
    )


def _funnel_oracle() -> str:
    rep_fails = _rep_fail_exprs(qual="rm.")
    rep_pass = " AND ".join(f"NOT ({rep_fails[k]})" for k in _REP_ORDER)
    c4_keep = (
        "NOT cm.f_lorem AND NOT cm.f_brace AND NOT cm.f_bad"
        f" AND cm.n_sent >= {C4_MIN_SENTENCES}"
    )
    g_pass = " AND ".join(
        f"gr.r_{k}" for k in _GOPHER_RULES
    )
    return f"""
    WITH pop AS (
        SELECT doc_id, lang, text, n_chars FROM documents
        WHERE text IS NOT NULL
    ),
    {_gopher_doc_cte(src="pop", t="gt", r="gr")},
    {_c4_doc_cte(src="pop", t="ct", m="cm")},
    {_rep_doc_cte(src="pop", base="rb", folds="rf", m="rm")}
    SELECT gr.lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE {c4_keep}) AS n_c4,
           COUNT(*) FILTER (WHERE {g_pass}) AS n_rules,
           COUNT(*) FILTER (WHERE {rep_pass}) AS n_rep,
           COUNT(*) FILTER (WHERE ({c4_keep}) AND ({g_pass}))
               AS n_c4_rules,
           COUNT(*) FILTER (WHERE ({c4_keep}) AND ({g_pass})
               AND ({rep_pass})) AS n_kept
    FROM gr
    JOIN cm ON gr.doc_id = cm.doc_id
    JOIN rm ON gr.doc_id = rm.doc_id
    GROUP BY gr.lang
    """


@query("q_corpus_filter_funnel", oracle=_funnel_oracle())
def q_corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full published corpus-filter stack as ONE attrition funnel
    (the FineWeb recipe: C4 cleaning + Gopher quality rules + Gopher
    repetition): per lang, the independent pass count of each battery
    and the sequential survivors through the stack (n_c4_rules, n_kept).
    Every flag comes from the SAME shared doc-level cores the three
    drill-down reports aggregate (gopher_doc_flags / c4_doc_flags /
    repetition_doc_flags, and their CTE twins in the oracle), so the
    funnel can never disagree with the reports it summarizes. The
    decision a 100 TB build commits — which sources survive, and which
    battery is doing the cutting — read per source before the filter
    pass rewrites the lake. Population = docs with text (doc_id-unique
    corpus; the oracle's per-doc join is the q_dedup_incremental
    convention). One corpus pass, zero joins Spark-side, one exchange."""
    return corpus_filter_funnel(load_spread(spark, sf_dir, "documents"))
