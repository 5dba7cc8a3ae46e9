"""Near-duplicate detection — SURVEY.md §2.10 L3 (MinHash-LSH) plus the
SimHash and n-gram-Jaccard variants from the north star.

Reference parity: LLM-training-data dedup extension (BASELINE.json north
star; /root/reference is empty — SURVEY.md §0). Design follows Broder '97
(MinHash), Charikar '02 (SimHash) — public literature.

Scale notes (100 TB):
- MinHash signatures are computed PER ROW from each doc's (row-local,
  hashed, distinct) shingle array: m_i = array_min(transform(sh, h ->
  xxhash64(h, i))) — no explode, no aggregate, no shuffle; the map side of
  the job does all 32 hashes in one pass over each document. Banding
  (16 bands × 2 rows) turns pair discovery into a groupBy(band)+self-join
  on band hash: candidates are generated per bucket, never n² over the
  corpus. Verification joins each candidate pair back to its two shingle
  arrays and intersects row-locally (array_intersect) — the only shuffles
  in the whole plan are the band join and two candidate key joins.
- Band-bucket skew (a degenerate band shared by thousands of docs) is the
  known hot spot: AQE skew-split handles it; a production guard would drop
  buckets above a size cap (documented, not needed at test scale).
- SimHash is fully associative arithmetic (per-token bit votes summed per
  doc) → two-phase agg, perfectly scalable; its 16-bit value here keeps the
  SQL oracle tractable (production would use 64 bits via the same plumbing).

LSH recall note (measured on this corpus): true near-dup pairs sit at
Jaccard ≥ 0.98 with background < 0.2 (bimodal). With 16 bands × 2 rows the
miss probability at J=0.98 is ~1e-17 per pair, so the LSH pipeline's output
equals the exact-Jaccard SQL oracle with overwhelming probability — the
candidate set is verified with exact Jaccard, so precision is exact by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load_spread, table_rows

N_HASHES = 32
N_BANDS = 16  # 2 rows per band
JACCARD_THRESHOLD = 0.8


def _minhash_params(n: int) -> tuple[int, int]:
    """(bands, rows_per_band) for the LSH banding, adapted to corpus size.

    A FIXED banding has a quadratic floor: two random docs collide in a band
    of r minhashes with probability j^r (j = their Jaccard), so expected
    random candidates ≈ b·E[j^r]·C(n,2) — each +1 in r multiplies the floor
    by E[j] (≈ 1e-2 for benign corpora), buying ~100× more corpus before the
    pairwise term re-emerges. Recall at the J ≥ 0.8 operating threshold
    stays ≥ 0.99 with b = 16 through r = 6 (1-(1-0.8^r)^16), so r grows
    stepwise with log(n) while b is held: r = 2 (n ≤ 1e5, the measured
    regime), 3 (≤ 1e7), 4 beyond. Only signature width (b·r minhashes,
    row-local, linear) and the band-hash literal change — the plan shape
    (per-row signatures → band equi-join → exact verify) is invariant."""
    r = 2 if n <= 100_000 else (3 if n <= 10_000_000 else 4)
    return N_BANDS, r

_SHINGLE_SQL = """
        SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) >= 3
                 THEN list_transform(generate_series(1, len(toks) - 2),
                                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
"""


def _elem_gram_sql(arr: str, k: int) -> str:
    """k-token gram as ELEMENT-indexed DuckDB concatenation —
    ``arr[i] || ' ' || arr[i+1] || …`` — the _SHINGLE_SQL idiom generalized.
    The list-SLICE spelling ``array_to_string(arr[i:i+k-1], ' ')`` inside a
    list_transform lambda is QUADRATIC in DuckDB (each slice evaluation
    drags the whole parent list: measured >150 s vs 0.4 s on ten 50k-token
    docs — the r9 composed content-axis gate found it), while element
    access is O(1) per term. Output strings are byte-identical (split never
    yields NULL elements and i ≤ len-k+1 guarantees every term exists —
    EXCEPT-ALL verified on the driver corpus)."""
    return " || ' ' || ".join(f"{arr}[i+{j}]" for j in range(k))


_ARRS_MEMO: dict[tuple, tuple] = {}


def _shingle_arrays_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shingle-array relation, persisted WITH a materialization barrier
    and MEMOIZED per (session, table-state): every consumer (minhash,
    ngram-Jaccard, and the cluster/pipeline queries that compose them)
    shares ONE cached copy instead of stacking a fresh persist per call —
    repeated invocations in one session (bench reps, composed queries)
    were piling identical cached relations into storage memory ("Asked to
    cache already cached data") until eviction pressure slowed everything.
    The signature tracks the parquet footer state, so a rewritten corpus
    re-materializes and the superseded relation is unpersisted
    (operators._memo.session_memo — the sources.io cache-freshness rule).

    Why persist + count barrier at all (round 4, measured): the relation
    feeds 3+ plan branches and a LAZY cache races — concurrent leaf stages
    each recompute AND serialize the same partitions (2.95 s uncached vs
    12.75 s lazily cached vs ~2.5 s barriered at the 10× corpus). The
    barrier runs at query-build time, which bench/driver timing includes."""
    from ..sources.io import _stat_sig, table_path
    from ._memo import session_memo

    return session_memo(
        _ARRS_MEMO, spark, sf_dir,
        lambda: _stat_sig(table_path(sf_dir, "documents")),  # fresh-at-build
        lambda: _shingle_arrays(spark, sf_dir),
    )


def _shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh: array<long>) — per-document array of distinct hashed
    word-3-shingles, computed entirely row-local (split → slide → hash →
    array_distinct): zero shuffles. The foundation both for per-row minhash
    signatures and (exploded) for the inverted-index verification join.

    Plan-shape notes (measured 12× at sf0.1, same asymptotics at 100 TB):
    - the token array is MATERIALIZED in its own projection first — inlining
      ``split()`` into the transform lambda re-evaluates it per element,
      turning shingling O(tokens²) per doc;
    - per-doc dedup is ``array_distinct`` INSIDE the row — a global
      ``.distinct()`` on the exploded form would shuffle the whole corpus
      (at 100 TB: the difference between no shuffle and the job's biggest);
    - shingles are carried as ``xxhash64(s)`` so downstream joins move
      8-byte longs, never strings; a 64-bit collision merging two shingles
      has probability ~n²/2⁶⁵ — accepted, and the DuckDB oracles run on raw
      strings, so a hash match also certifies the collision didn't bite.

    NULL-text docs are EXCLUDED (r7 degraded-twin gate): Spark's concat_ws
    never returns NULL, so a NULL doc's whole-doc shingle silently became
    '' and EVERY null doc shared it — m null docs (a real crawl has
    millions) formed a C(m,2) complete J=1 graph through the band join and
    the verify (measured: 31,137 'pairs' from 250 null docs at sf0.001,
    ~all of them garbage), a quadratic OUTPUT blowup no banding can bound.
    The oracles already excluded them structurally (DuckDB's
    array_to_string keeps NULL, and NULL never equi-joins) — the filter
    makes the Spark side match the contract: no text, no shingles, no
    duplicates. Empty-STRING docs keep their '' whole-doc shingle in both
    engines (byte-identical short docs ARE duplicates)."""
    d = (
        load_spread(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("toks"))
    )
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
    return d.select(
        "doc_id",
        F.array_distinct(F.transform(sh_arr, lambda s: F.xxhash64(s))).alias("sh"),
    )


# shared CTE chain ending in ``pairs(doc_a, doc_b, jaccard)`` — the exact
# near-dup pairs at JACCARD_THRESHOLD; used by both the minhash oracle and
# the connected-components oracle so the two can never drift
_PAIRS_CTES = f"""sh AS ({_SHINGLE_SQL}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b,
               CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        FROM inter
        JOIN sz sa ON doc_a = sa.doc_id
        JOIN sz sb ON doc_b = sb.doc_id
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
    )"""


def minhash_bands(arrs, n_bands: int, rows_per_band: int):
    """(doc_id, band, bh): the LSH band-hash relation from per-row minhash
    signatures — split out of q_dedup_minhash_pairs (r12) so the
    incremental A-vs-B dedup joins the SAME banding (any drift between
    the two would silently change which candidate pairs exist).
    Signatures are computed PER ROW from the shingle array — no explode,
    no groupBy, no shuffle: m_i = array_min(transform(sh, h ->
    xxhash64(h, i)))."""
    n_hashes = n_bands * rows_per_band

    def _seeded(seed: int):
        # single-arg lambda on purpose: a two-arg lambda would make PySpark
        # pass the ELEMENT INDEX as the second argument
        return lambda h: F.xxhash64(h, F.lit(seed))

    sig = arrs.select(
        "doc_id",
        *[
            F.array_min(F.transform("sh", _seeded(i))).alias(f"m{i}")
            for i in range(n_hashes)
        ],
    )
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"m{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("bh"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")



@query(
    "q_dedup_minhash_pairs",
    oracle=f"""
    WITH {_PAIRS_CTES}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: MinHash + LSH near-duplicate pairs (J ≥ 0.8), verified exactly.

    shingle arrays (row-local) → b·r per-row minhashes → b bands × r rows →
    band-bucket self-join for candidates → exact Jaccard verification of
    candidates via row-local array_intersect. The only shuffles in the whole
    plan are the band-bucket join and the two candidate-pair key joins —
    signature computation and verification arithmetic never shuffle. The
    banding is SIZE-ADAPTIVE (see _minhash_params): the corpus size comes
    from parquet footer metadata (sources.io.table_rows, zero Spark jobs)
    and picks rows-per-band so random-pair band collisions stay
    sub-linear at scale. The oracle computes exact Jaccard for ALL
    shingle-sharing pairs; see module docstring for why recall is exact on
    this corpus.
    """
    # persisted + barriered + memoized — see _shingle_arrays_persisted
    arrs = _shingle_arrays_persisted(spark, sf_dir)
    n_bands, rows_per_band = _minhash_params(table_rows(sf_dir, "documents"))
    bands = minhash_bands(arrs, n_bands, rows_per_band)

    left = bands.select(F.col("doc_id").alias("doc_a"), "band", "bh")
    right = bands.select(F.col("doc_id").alias("doc_b"), "band", "bh")
    cand = (
        left.join(right, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    # exact verification of candidates only: join each pair back to its two
    # shingle ARRAYS and intersect row-locally — two key joins, no exploded
    # shingle join, no re-aggregation
    a_arr = arrs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b_arr = arrs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(a_arr, "doc_a")
        .join(b_arr, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
    )
    jac = F.col("i").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    return verified.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


MAX_SHINGLE_DF = 50  # posting-list cap: shingles in more docs than this are
# "stopword shingles" — they generate O(df²) join pairs each while carrying
# no near-dup signal, and at 100 TB an uncapped hot shingle is the job's
# unbounded skew key.  The whole computation (candidates, sizes, Jaccard)
# runs on the capped universe — standard stopword removal for set-similarity
# — and the oracle applies the identical filter, so results match on any
# corpus; near-dup recall is preserved because J ≥ 0.5 pairs share rare
# shingles too (verified: all 256 true pairs survive at cap 50 and cap 10
# on the test corpus).


@query(
    "q_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {MAX_SHINGLE_DF}),
    rsh AS (SELECT doc_id, s FROM sh WHERE s IN (SELECT s FROM rare)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM rsh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM rsh a JOIN rsh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard dedup over the DF-capped shingle universe: shingles
    with document frequency > MAX_SHINGLE_DF ("stopword shingles") are
    dropped up front — the standard stopword-removal step in set-similarity
    search — then bounded posting lists emit candidate pairs (double
    explode, map-side) into an exact intersection count and
    Jaccard = i/(n_a+n_b-i) over the capped sets, threshold 0.5.

    The cap bounds per-shingle join cost at df² ≤ 2500 instead of unbounded
    hot-key quadratic (the 100 TB skew killer), and everything downstream of
    it — sizes, intersections, the ratio — is defined on the same capped
    universe, so the oracle (identical filter) matches on ANY corpus. On
    corpora where no shingle exceeds the cap (true for the test corpus:
    max df ≈ 50) capped Jaccard equals exact Jaccard. Jaccard is an integer
    ratio → IEEE-exact, unrounded. The exact twin of q_dedup_minhash_pairs:
    same shingles, no sketch; candidates from posting lists vs minhash
    bands."""
    # DF cap in CONSTANT space per shingle: a count aggregate (partial
    # map-side combine, one counter per key — never a list) selects the
    # rare shingles, and a semi-join drops hot-shingle occurrences BEFORE
    # any collect_list buffer exists. The earlier form collect_list'd every
    # shingle's full doc list and filtered on size afterwards — a hot
    # ("stopword") shingle at 100 TB would materialize an unbounded list in
    # a single aggregation buffer before being discarded (ADVICE r3,
    # medium). Candidate pairs then come from a double explode of each
    # bounded list — pure map-side work feeding the pair aggregate —
    # instead of the classic inverted-index SELF-JOIN (measured 3.3-46 s
    # AQE flip swings at the 10× corpus for the join form).
    #
    # The per-doc shingle ARRAYS are persisted/barriered/memoized (see
    # _shingle_arrays_persisted): the cap's count pass and the posting
    # probe both need the exploded occurrences; caching the ARRAY form
    # (one row per doc, 50× fewer rows than exploded) makes the expensive
    # split→slide→hash→distinct work run exactly once, while each consumer
    # re-runs only the cheap explode. MEMORY_AND_DISK spills if the corpus
    # outgrows executor memory.
    arrs = _shingle_arrays_persisted(spark, sf_dir)
    sh = arrs.select("doc_id", F.explode("sh").alias("s"))
    rare = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .select("s")
    )
    # SHUFFLE_HASH, pinned: rare is ~every distinct shingle, so Spark's
    # default strategies are both wrong — broadcasting it builds a
    # multi-million-key hashed relation per executor (measured 11.6 s base /
    # 33 s at 10× in fresh sessions), and sort-merge pays a full sort of the
    # exploded occurrence relation. A shuffled hash join reuses the same
    # hashpartitioning(s) the count pass and the collect_list below already
    # need — one effective wide stage, constant memory per key.
    postings = (
        sh.join(rare.hint("SHUFFLE_HASH"), "s", "left_semi")
        .groupBy("s")
        .agg(F.collect_list("doc_id").alias("ds"))
        .cache()
    )
    # barrier: inter and sizes below both read postings, and a lazy cache
    # would race them into duplicate join+collect work (measured ~1 s at
    # both scales)
    postings.count()
    inter = (
        postings.select("ds", F.explode("ds").alias("doc_a"))
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sizes = (
        postings.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("i").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


_SIMHASH_BITS = 16


def _simhash_oracle() -> str:
    votes = ",\n           ".join(
        f"SUM(CASE WHEN ascii(substr(md5(word), {b + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(_SIMHASH_BITS)
    )
    value = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS))
    return f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), votes AS (
        SELECT doc_id,
           {votes}
        FROM toks GROUP BY doc_id
    )
    SELECT doc_id, CAST({value} AS BIGINT) AS simhash FROM votes
    """


@query("q_simhash", oracle=_simhash_oracle())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprint (Charikar '02): each distinct token votes
    ±1 per bit (parity of a hex digit of md5(token) — engine-portable), the
    per-doc vote sums are signed into bits. Near-dups differ in few bits; at
    scale, pairs come from banding the bit space exactly like MinHash-LSH.
    Associative sums only → two-phase agg, 100 TB-clean."""
    d = load_spread(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("word"))
    h = F.md5("word")
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.ascii(F.substring(h, b + 1, 1)) % 2 == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    value = None
    for b in range(_SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        value = term if value is None else value + term
    return votes.select("doc_id", value.cast("bigint").alias("simhash"))


# --- SimHash Hamming-distance near-dup JOIN (Manku, Jain & Das Sarma '07,
# "Detecting Near-Duplicates for Web Crawling" — the published Google
# crawl-dedup algorithm q_simhash's signature exists to feed) -------------

SIMHASH_JOIN_BITS = 60  # 15 lowercase-hex md5 digits x 4 bits each; 60 stays
# far below the BIGINT sign bit AND is divisible by k+1 for every k in 1..5,
# so the pigeonhole blocks always tile the fingerprint exactly
SIMHASH_HAM_K = 3  # Manku et al.'s distance cut for the 8B-page corpus


def simhash_wide(d: DataFrame) -> DataFrame:
    """(doc_id, sim): the 60-bit SimHash (Charikar '02) of each document's
    DISTINCT token set — q_simhash's construction widened from 16 to 60
    bits (16-bit blocks of a 16-bit hash would be 4 bits wide and every
    doc would collide with 1/16 of the corpus: quadratic candidates; at
    15-bit blocks random collisions are ~2^-15 — linear). Bit b is the
    sign of the token-vote sum on bit (b mod 4) of hex digit (b div 4) of
    md5(token); the 15 hex digits are parsed ONCE per token into a single
    60-bit BIGINT (r15, guide §4 expression cost — previously 15 separate
    1-char conv() parses per token; digit i sits at weight 16^(14-i), so
    old bit (d[b div 4] >> (b mod 4)) & 1 ≡ new (th >> (4*(14 - b div 4)
    + b mod 4)) & 1 — bit-identical by positional arithmetic, and the
    vote ±1 is the branch-free 2*bit-1), and the 60 vote sums stay
    associative SUMs — two-phase map-side aggregation, 100 TB-clean.
    Zero-vote ties sign to 0 in both engines (strict > 0)."""
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("word"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("word"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("th"),
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright("th", 4 * (14 - b // 4) + b % 4).bitwiseAND(
                    F.lit(1)
                )
                * 2
                - 1
            ).alias(f"v{b}")
            for b in range(SIMHASH_JOIN_BITS)
        ]
    )
    value = None
    for b in range(SIMHASH_JOIN_BITS):
        term = F.when(
            F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        value = term if value is None else value + term
    return votes.select("doc_id", value.cast("bigint").alias("sim"))


def simhash_hamming_join(d: DataFrame, k: int = SIMHASH_HAM_K) -> DataFrame:
    """All pairs with SimHash Hamming distance <= k, via Manku et al.'s
    pigeonhole blocking: split the fingerprint into k+1 equal bit blocks —
    a pair differing in <= k bits must agree EXACTLY on at least one block
    (k differing bits cannot touch all k+1 blocks), so candidates come
    from a (block_id, block_value) equi self-join and the filter is
    provably LOSSLESS. Library form so the brute-force property twin can
    certify both the blocking and the signature arithmetic on random
    corpora (tests/test_properties.py).

    Scale shape: block extraction is row-local shifts (posexplode of k+1
    values per doc, sims carried alongside — no hydration join later);
    the candidate join is corpus-scale on both sides, pinned SHUFFLE_HASH
    (never broadcast); candidates dedupe BEFORE the verify; the verify is
    one row-local bit_count(xor). Random 15-bit block collisions are
    ~2^-15 per pair per block, so candidate volume is ~true-pairs +
    n^2/2^15 — linear until the corpus dwarfs the block space, at which
    point the published remedy (wider fingerprints / permuted tables)
    applies unchanged."""
    cand = simhash_candidates(simhash_wide(d), k)
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= k)
    )


def simhash_candidates(sims: DataFrame, k: int = SIMHASH_HAM_K) -> DataFrame:
    """The pigeonhole candidate stage of :func:`simhash_hamming_join`,
    split out (the setsim_candidates precedent) so scale_check.py's
    --simhashcount certificate can count the DISTINCT post-block
    candidate pairs directly at both scales: the stage's volume model is
    ~true-pairs (linear in corpus) + n²·(k+1)/2^bbits random block
    collisions (quadratic with a 2^-15 coefficient at the default k=3) —
    a wall factor alone cannot distinguish that tail from shuffle
    overhead; the pair count can."""
    nblocks = k + 1
    if SIMHASH_JOIN_BITS % nblocks:
        raise ValueError(f"k+1 must divide {SIMHASH_JOIN_BITS}, got k={k}")
    bbits = SIMHASH_JOIN_BITS // nblocks
    blocks = sims.select(
        "doc_id",
        "sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sim", b * bbits).bitwiseAND(
                        F.lit((1 << bbits) - 1)
                    )
                    for b in range(nblocks)
                ]
            )
        ).alias("b_id", "b_val"),
    )
    a = blocks.select(
        F.col("doc_id").alias("doc_a"), F.col("sim").alias("sim_a"),
        "b_id", "b_val",
    )
    b2 = blocks.select(
        F.col("doc_id").alias("doc_b"), F.col("sim").alias("sim_b"),
        "b_id", "b_val",
    )
    return (
        a.join(b2.hint("SHUFFLE_HASH"), ["b_id", "b_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
    )


def _simhash_join_oracle() -> str:
    # Brute-force all-pairs twin (the setsim precedent): a green hash
    # certifies the pigeonhole blocking dropped NOTHING on this corpus,
    # not just that both engines agree on the reported pairs. n=500-5000
    # docs at test SFs -> <=12.5M bit_count pairs, trivial for DuckDB.
    digits = ",\n               ".join(
        f"strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1 AS d{i}"
        for i in range(15)
    )
    votes = ",\n               ".join(
        f"SUM(CASE WHEN ((d{b // 4} >> {b % 4}) & 1) = 1"
        f" THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_JOIN_BITS)
    )
    value = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(SIMHASH_JOIN_BITS)
    )
    return f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    hs AS (SELECT doc_id, md5(word) AS h FROM toks),
    dv AS (SELECT doc_id,
               {digits}
           FROM hs),
    votes AS (SELECT doc_id,
               {votes}
           FROM dv GROUP BY doc_id),
    sims AS (SELECT doc_id, CAST({value} AS BIGINT) AS sim FROM votes)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= {SIMHASH_HAM_K}
    """


@query("q_simhash_hamming_join", oracle=_simhash_join_oracle())
def q_simhash_hamming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance <= k (Manku et al. '07
    — the crawl-scale dedup published at Google, completing q_simhash
    from signature to JOIN): 60-bit fingerprints, pigeonhole block
    candidates, exact bit_count(xor) verify. The LSH-free member of the
    near-dup family: minhash bands approximate Jaccard, the setsim
    prefix join is exact on SETS — SimHash distance is the published
    proxy for weighted cosine over token votes, and the block filter is
    provably lossless at the declared k (see simhash_hamming_join).
    Oracle is brute-force all-pairs, so a green hash certifies the
    blocking dropped nothing. Plan/scale rationale on the library
    functions above."""
    return simhash_hamming_join(
        load_spread(spark, sf_dir, "documents"), SIMHASH_HAM_K
    )


CC_MAX_ROUNDS = 20  # safety cap; large-star/small-star needs O(log² n)
# rounds even on path graphs, so 20 covers any graph that fits on disk

CC_DRIVER_MAX_EDGES = 1_000_000  # distinct edges up to which
# connected_components solves on the driver in NumPy (one collect of ≤ 16 MB
# of BIGINT pairs, a solver peak under ~100 MiB at the cap) instead of
# running the Spark star-round loop


# Two spellings of the per-node minimum, picked ADAPTIVELY per round from
# the measured edge count (both produce identical edges, so the choice is
# purely physical):
# - window (1 exchange/operator): fastest while edge sets are modest —
#   measured 12 s vs 24 s for the ×10 dup graph — but WindowExec
#   buffers/sorts each node's whole adjacency in ONE task, and in a
#   converged component the root's degree equals the component size, so a
#   billion-edge component would spill-sort in a single straggler;
# - groupBy-min + equi-join (2 exchanges): the partial min collapses hot
#   nodes map-side and the join back is an AQE-skew-splittable hash join —
#   the only shape that survives mega-hub components.
CC_WINDOW_MAX_EDGES = 5_000_000  # below this, per-round fixed cost dominates


def _large_star(e: DataFrame, use_window: bool) -> DataFrame:
    """Large-star (Kiveris et al. '14): every node u links each strictly
    LARGER neighbor to m(u) = min(Γ(u) ∪ {u}). Duplicate emits are left in
    place; the small-star that follows dedups."""
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    if use_window:
        from pyspark.sql import Window as W

        m = F.least(F.min("b").over(W.partitionBy("a")), F.col("a"))
        withm = sym.withColumn("m", m)
    else:
        m = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("mb", "a").alias("m"))
        )
        withm = sym.join(m.hint("shuffle_hash"), "a")
    return (
        withm.filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )


def _small_star(e: DataFrame, use_window: bool) -> DataFrame:
    """Small-star: direct each edge high→low, then every node u links ALL
    its smaller neighbors (and itself) to m(u) = min of those neighbors."""
    dirs = e.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).filter(F.col("a") != F.col("b"))
    if use_window:
        from pyspark.sql import Window as W

        withm = dirs.withColumn("m", F.min("b").over(W.partitionBy("a")))
    else:
        m = dirs.groupBy("a").agg(F.min("b").alias("m"))
        withm = dirs.join(m.hint("shuffle_hash"), "a")
    # both emits ((v, m) and (u, m)) come out of ONE row via explode — a
    # union of two projections would evaluate the min subtree twice
    links = withm.select(
        F.explode(
            F.array(
                F.struct(F.col("b").alias("a"), F.col("m").alias("b")),
                F.struct(F.col("a").alias("a"), F.col("m").alias("b")),
            )
        ).alias("lk")
    ).select("lk.a", "lk.b")
    return links.filter(F.col("a") != F.col("b")).distinct()


def _min_labels(n: int, u, v):
    """Min-label connected components on the driver over dense node indices
    0..n-1 and edges (u[i], v[i]) (int arrays, no self-loops): returns
    ``lab`` with lab[x] = the smallest index reachable from x.

    Each pass hooks both endpoints' roots of every edge to the smaller of
    the two (``np.minimum.at``, so many edges hooking one root combine),
    then pointer-jumps (lab = lab[lab]) until every node points at a root.
    A label only ever decreases and always names a node of the same
    component, so once a pass changes nothing, every edge joins two nodes
    of one root and that root is the component's minimum index. Measured
    at 1M edges on a 4-core Xeon host: 0.05 s on a hub star, 0.3 s on a
    random graph, 0.5 s on a path with shuffled ids, ≤ 70 MiB peak."""
    import numpy as np

    lab = np.arange(n)
    while True:
        old = lab
        lu, lv = lab[u], lab[v]
        m = np.minimum(lu, lv)
        lab = lab.copy()
        np.minimum.at(lab, lu, m)
        np.minimum.at(lab, lv, m)
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped
        if np.array_equal(lab, old):
            return lab


def _cc_on_driver(spark: SparkSession, edges) -> DataFrame:
    """connected_components' driver path: ``edges`` is the collected Arrow
    table of distinct (a, b) pairs, both columns of the node type. Emits
    the Spark path's exact contract: one (node, comp) row per distinct
    non-null endpoint — self-loop-only nodes and the other end of a
    null-ended edge label themselves — plus one (null, null) row when any
    endpoint is null. Node values are taken from the collected columns,
    so the output keeps their Arrow type."""
    import numpy as np
    import pyarrow as pa

    k = edges.num_rows
    ends = pa.chunked_array(
        edges.column("a").chunks + edges.column("b").chunks,
        type=edges.schema.field("a").type,
    )
    valid = ends.is_valid().to_numpy(zero_copy_only=False)
    ids = ends.drop_null()
    # np.unique sorts, so the smallest dense index is the smallest id
    _, first, inv = np.unique(ids.to_numpy(), return_index=True, return_inverse=True)
    pos = np.full(2 * k, -1)
    pos[valid] = inv
    u, v = pos[:k], pos[k:]
    keep = (u >= 0) & (v >= 0) & (u != v)
    node = ids.take(first)
    comp = node.take(_min_labels(len(first), u[keep], v[keep]))
    if not valid.all():
        nulls = pa.nulls(1, ends.type)
        node = pa.chunked_array(node.chunks + [nulls], type=ends.type)
        comp = pa.chunked_array(comp.chunks + [nulls], type=ends.type)
    return spark.createDataFrame(pa.table({"node": node, "comp": comp}))


def connected_components(
    pairs: DataFrame, col_a: str, col_b: str, reliable: bool = False
) -> DataFrame:
    """Reusable connected-components operator over an undirected edge list:
    returns (node, comp) where ``comp`` is the minimum node id reachable
    from ``node``, for every node appearing in any edge (self-loop-only
    nodes label themselves; a null endpoint adds one (null, null) row).

    ONE Spark action first: the distinct edge list, collected through
    ``limit(CC_DRIVER_MAX_EDGES + 1).toArrow()``.

    - At most CC_DRIVER_MAX_EDGES (1M) distinct edges: the components are
      solved on the driver in NumPy (``_min_labels``: dense ids, min-label
      hooking + pointer jumping) and handed back through
      ``spark.createDataFrame`` of an Arrow table. Driver memory is bounded
      by the cap: ≤ 16 MB of BIGINT pairs collected, a solver peak under
      ~100 MiB. Every verified-pair graph the registry builds stays here.
    - Above the cap: the Spark LARGE-STAR / SMALL-STAR alternation (Kiveris
      et al. '14, "Connected Components in MapReduce and Beyond"), the
      only path that runs there. The extra cost of trying the driver first
      is the one limit job and ≤ 16 MB collected; that job fills a local
      checkpoint of the distinct edge relation, so the loop starts from it
      without recomputing it. The star rounds contract chains
      doubly-exponentially, so even a path graph converges in O(log² n)
      rounds (a 60-node path needs 4 rounds vs 59 hash-min propagation
      rounds). Fixpoint = the directed edge set is unchanged
      (order-insensitive count + hash compare, one action per round — the
      driver loops over ROUNDS, never rows). The per-node minimum picks its
      physical spelling per round from the measured edge count (the sig
      already carries it): min-over-window below CC_WINDOW_MAX_EDGES (one
      exchange), groupBy-min + skew-splittable join above it (the only
      shape that survives a mega-hub component — see the spelling
      comment). CC_MAX_ROUNDS and ``reliable`` apply to this path only.

    Both paths give the same rows and the same schema, checked against
    each other and against union-find in tests/test_properties.py."""
    if reliable:
        # fail fast with an actionable message: without a configured
        # checkpoint dir the first action dies with an opaque
        # SparkException (ADVICE r5)
        sc = pairs.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "connected_components(reliable=True) needs a fault-tolerant "
                "checkpoint dir: call spark.sparkContext.setCheckpointDir("
                "'hdfs://... or s3://...') first (a local path only makes "
                "sense in local mode)"
            )

    pending_unpersist: list[DataFrame] = []

    def _ckpt(df: DataFrame) -> DataFrame:
        # localCheckpoint persists round state on executors — fast, but a
        # lost executor loses partitions mid-algorithm. ``reliable=True``
        # writes round state to the fault-tolerant checkpoint dir
        # (sc.setCheckpointDir — HDFS/S3 on a real cluster) so a 100 TB
        # multi-hour CC run survives executor churn; same lazy one-action-
        # per-round protocol either way.
        if reliable:
            # persist BEFORE checkpoint: the checkpoint-write job recomputes
            # the round's RDD from scratch unless its partitions are cached
            # (ADVICE r5 — a 2× per-round cost at exactly the scale the flag
            # targets). The cache is only needed until the checkpoint files
            # exist, i.e. until the round's _sig action completes — _drain
            # releases it then.
            df = df.persist()
            pending_unpersist.append(df)
            return df.checkpoint(eager=False)
        return df.localCheckpoint(eager=False)

    def _drain() -> None:
        # called right after each round's materializing action: checkpoint
        # files are written, the pre-checkpoint cache is dead weight
        while pending_unpersist:
            pending_unpersist.pop().unpersist()

    # both endpoints in the node type Spark's union would widen them to
    # (e.g. INT + BIGINT → BIGINT), so the Arrow columns agree; the limit
    # job fills the local checkpoint, which only the star loop reads again
    node_t = pairs.select(col_a).union(pairs.select(col_b)).schema[0].dataType
    edges = (
        pairs.select(
            F.col(col_a).cast(node_t).alias("a"), F.col(col_b).cast(node_t).alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    collected = edges.limit(CC_DRIVER_MAX_EDGES + 1).toArrow()
    if collected.num_rows <= CC_DRIVER_MAX_EDGES:
        return _cc_on_driver(pairs.sparkSession, collected)
    del collected

    if reliable:
        edges = _ckpt(edges)  # the loop's starting state, fault-tolerant too
    e = edges.filter(F.col("a") != F.col("b"))

    # order-insensitive edge-set fingerprint: count + XOR of per-edge hashes
    # (XOR, not SUM — a long SUM overflows under ANSI mode; edges are
    # distinct so XOR cancellation cannot collide two different sets except
    # with ~2^-64 hash probability)
    def _sig(df: DataFrame) -> tuple:
        return tuple(
            df.agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("a", "b")).alias("h"),
            ).collect()[0]
        )

    try:
        sig = _sig(e)
    finally:
        # failure backstop (r6 review): if the first action dies (executor
        # loss, checkpoint-dir write failure), the initial reliable-mode
        # persist must not stay pinned for the session lifetime
        _drain()
    converged = False
    for _ in range(CC_MAX_ROUNDS):
        # localCheckpoint, not cache: each round's plan references the
        # previous round's edges TWICE (the symmetrizing union), so the
        # logical plan doubles per round and Catalyst analysis alone goes
        # exponential by round ~6 (measured: 1 s/round → 67 s at round 6
        # on a 60-node path). Checkpointing truncates lineage to the
        # materialized partitions — constant per-round plan. LAZY (r5):
        # the fixpoint signature is the round's FIRST action, so it
        # computes, persists, and fingerprints the edges in ONE job — the
        # eager form ran two actions per round and the extra fixed job
        # latency was 27% of the headline bench (VERDICT r4 #5). On a
        # real cluster use reliable checkpoint() (localCheckpoint loses
        # partitions on executor failure) — same one-line swap.
        # the spelling decision now holds for TWO star rounds, and a
        # single large-star pass can roughly double the edge set — so the
        # window spelling is only safe up to HALF the cap, or the second
        # round could run min-over-window on a graph past the mega-hub
        # threshold
        use_window = (sig[0] or 0) <= CC_WINDOW_MAX_EDGES // 2
        # TWO star rounds per checkpoint/signature (r5): per-action fixed
        # cost (job scheduling + Catalyst on a multi-exchange DAG) is paid
        # per action, so halving the action count nearly halves wall time;
        # lineage depth stays bounded at two rounds, far from the
        # exponential regime, and a fixpoint of one star round is a
        # fixpoint of two, so convergence detection is unchanged (at worst
        # detected one odd round late).
        new = e
        for _ in range(2):
            new = _small_star(_large_star(new, use_window), use_window)
        new = _ckpt(new)
        try:
            new_sig = _sig(new)
        finally:
            # same backstop per round: a failed action must not leak the
            # round's persist (a retrying long-lived driver would stack
            # one corpus-scale cached edge set per failed attempt)
            _drain()
        if new_sig == sig and new.exceptAll(e).isEmpty():
            # signature match is probabilistic (~2^-64 collision); both
            # relations are already materialized, so confirming set
            # equality exactly (equal counts + empty one-sided
            # difference) costs one cheap scan ONCE at convergence —
            # deterministic termination (ADVICE r4). On the vanishing
            # collision branch the loop just keeps iterating.
            e = new
            converged = True
            break
        e = new
        sig = new_sig
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint after {2 * CC_MAX_ROUNDS} "
            "star rounds — labels may not be the minimum reachable id "
            "(raise CC_MAX_ROUNDS; O(log^2 n) rounds suffice for any graph)",
            RuntimeWarning,
            stacklevel=2,
        )
    # converged: every edge is (node, comp_min); add the roots, plus nodes
    # that appeared only in self-loop edges (their component is themselves —
    # the pre-round-4 contract emitted every node appearing in ANY edge)
    # groupBy-min, not a bare projection: a converged star has exactly one
    # (node, comp) row per node, but if CC_MAX_ROUNDS ever exhausted first,
    # a node could still carry edges to two different labels — the min
    # guard preserves the one-label-per-node contract (the pre-round-4
    # behavior on unconverged graphs) instead of emitting duplicates.
    star = (
        e.select(F.col("a").alias("node"), F.col("b").alias("comp"))
        .union(e.select(F.col("b").alias("node"), F.col("b").alias("comp")))
        .groupBy("node")
        .agg(F.min("comp").alias("comp"))
    )
    all_nodes = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    singletons = all_nodes.join(star, "node", "left_anti").select(
        "node", F.col("node").alias("comp")
    )
    return star.union(singletons)


@query(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    ),
    closure AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM e),
    comp AS (SELECT a AS doc_id, MIN(b) AS canon_id FROM closure GROUP BY a),
    sizes AS (SELECT canon_id, COUNT(*) AS cluster_size FROM comp GROUP BY canon_id)
    SELECT comp.doc_id, comp.canon_id, sizes.cluster_size,
           comp.doc_id = comp.canon_id AS is_canonical
    FROM comp JOIN sizes USING (canon_id)
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: connected components over the verified
    MinHash pair graph, with the min doc_id as each cluster's canonical
    representative — the "keep one copy per dup group" stage every
    training-data dedup pipeline ends with.

    Components via connected_components: the distinct pair list is
    collected once and, up to CC_DRIVER_MAX_EDGES (1M) distinct pairs —
    every corpus this registry is tested on — solved on the driver in
    NumPy (min-label hooking, ≤ 16 MB collected); above the cap the Spark
    LARGE-STAR/SMALL-STAR rounds (Kiveris et al. '14) run instead, after
    one extra limit job. The oracle is a recursive-CTE transitive closure
    over the IDENTICAL pairs CTE, so either path's answer is hash-checked
    against exact reachability.

    Output: one row per clustered doc — (doc_id, canon_id, cluster_size,
    is_canonical); singletons (docs in no near-dup pair) are not emitted.

    ``SPARK_GRAFT_CC_RELIABLE=1`` flips the star loop's round-state
    checkpoints from localCheckpoint to the fault-tolerant checkpoint dir
    (VERDICT r5 #6 — set spark.sparkContext.setCheckpointDir first; see
    README's tuning table for when to flip it); it matters only above the
    driver cap. q_training_pipeline inherits the switch through this query.
    Labels are identical either way — the flag only changes where round
    state is stored (tests/test_properties.py).
    """
    import os

    reliable = os.environ.get("SPARK_GRAFT_CC_RELIABLE", "") == "1"
    pairs = _minhash_pairs_persisted(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(
        pairs, "doc_a", "doc_b", reliable=reliable
    ).withColumnRenamed("node", "doc_id")
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "comp").select(
        "doc_id",
        F.col("comp").alias("canon_id"),
        "cluster_size",
        (F.col("doc_id") == F.col("comp")).alias("is_canonical"),
    )


_PAIRS_MEMO: dict[tuple, tuple] = {}


def _minhash_pairs_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified MinHash pair relation as a shared persisted intermediate
    for its COMPOSITE consumers (cluster resolution, and through it the
    training pipeline — q_dedup_minhash_pairs itself stays unmemoized so
    the registered query always exercises the live plan): the same
    (session, table-state) rule as the shingle/bucket relations. The pair
    set is tiny (verified near-dups), so the persist is cheap and the CC
    loop's initial checkpoint reads materialized rows instead of re-running
    the band join + verify per call."""
    from ..sources.io import _stat_sig, table_path
    from ._memo import session_memo

    return session_memo(
        _PAIRS_MEMO, spark, f"{sf_dir}|minhash-pairs",
        lambda: _stat_sig(table_path(sf_dir, "documents")),  # fresh-at-build
        lambda: q_dedup_minhash_pairs(spark, sf_dir),
    )


_CC_LABELS_MEMO: dict[tuple, tuple] = {}


def _cc_labels_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONVERGED cluster-label relation (doc_id, canon_id) over the
    verified MinHash pair graph, as a shared persisted intermediate for its
    COMPOSITE consumers (the leakage-safe split and the training pipeline —
    q_dedup_clusters itself stays unmemoized so the registered CC query
    always exercises the live solve): the same (session, table-state) rule
    as the pair/shingle relations. connected_components runs EAGERLY: one
    collect of the distinct pair list, then a driver solve up to
    CC_DRIVER_MAX_EDGES (1M) distinct pairs, or above the cap the Spark
    star loop (one action per two star rounds). Without the memo every
    composite consumer re-pays that per call; at 100 TB this is exactly
    the artifact a production build writes ONCE and reads from every
    downstream stage (guide §2.4: remove whole recomputed job chains).
    Labels are deterministic (min reachable id) and both paths give the
    same rows, so a memo hit cannot change any result."""
    from ..sources.io import _stat_sig, table_path
    from ._memo import session_memo

    import os

    # the reliable flag is part of the memo IDENTITY (ADVICE r14): labels
    # are equal either way, but lost-executor recompute goes through
    # different checkpoint lineage — flipping the flag mid-session must not
    # serve labels built under the other mode
    reliable = os.environ.get("SPARK_GRAFT_CC_RELIABLE", "") == "1"

    def _build() -> DataFrame:
        pairs = _minhash_pairs_persisted(spark, sf_dir).select("doc_a", "doc_b")
        return (
            connected_components(pairs, "doc_a", "doc_b", reliable=reliable)
            .withColumnRenamed("node", "doc_id")
            .withColumnRenamed("comp", "canon_id")
        )

    return session_memo(
        _CC_LABELS_MEMO, spark, f"{sf_dir}|cc-labels|reliable={reliable}",
        lambda: _stat_sig(table_path(sf_dir, "documents")),  # fresh-at-build
        _build,
    )


@query(
    "q_training_pipeline",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    ),
    closure AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM e),
    comp AS (SELECT a AS doc_id, MIN(b) AS canon_id FROM closure GROUP BY a),
    drops AS (SELECT doc_id FROM comp WHERE doc_id <> canon_id),
    toks AS (
        SELECT doc_id, lang, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types
        FROM documents
    ),
    kept AS (
        SELECT * FROM toks
        WHERE doc_id NOT IN (SELECT doc_id FROM drops)
          AND n_tokens >= 20 AND n_types * 2 >= n_tokens
    )
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_types) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE)
               AS corpus_ttr
    FROM kept
    GROUP BY source, lang
    """,
)
def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end training-data pipeline, composing the LLM
    operators into the shape every corpus build runs:

      1. DEDUP — MinHash-LSH pairs → connected components → drop every
         non-canonical cluster member (q_dedup_clusters machinery);
      2. QUALITY — keep docs with ≥ 20 tokens and type-token ratio ≥ 0.5
         (both thresholds are exact integer comparisons: 2·types ≥ tokens);
      3. REPORT — per (source, lang): surviving docs, total tokens, and
         corpus-level type-token ratio (an exact-integer-sum division).

    The full chain is hash-checked against a single recursive-CTE oracle
    built on the SAME pairs fragment as the minhash/cluster oracles, so all
    three can never drift apart. Scale shape: the dedup stage is the
    LSH-bucketed plan (no pairwise work), the drop set is |clustered docs|
    (tiny vs corpus) applied as one broadcast anti-join, and the quality
    stage is row-local arithmetic — the whole pipeline adds ONE extra
    shuffle (the final group-by) on top of the dedup plan."""
    # non-canonical members straight off the shared label relation (r14):
    # the old spelling re-ran q_dedup_clusters' live CC loop per call AND
    # dragged its cluster-size join into the plan just to read
    # is_canonical ≡ (doc_id = canon_id)
    labels = _cc_labels_persisted(spark, sf_dir)
    drops = labels.filter(F.col("doc_id") != F.col("canon_id")).select("doc_id")
    d = load_spread(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.split("text", " ").alias("ws")
    )
    toks = d.select(
        "doc_id",
        "lang",
        "source",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("ws")).cast("bigint").alias("n_types"),
    )
    kept = toks.join(F.broadcast(drops), "doc_id", "left_anti").filter(
        (F.col("n_tokens") >= 20) & (F.col("n_types") * 2 >= F.col("n_tokens"))
    )
    return kept.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_types").cast("double") / F.sum("n_tokens").cast("double")).alias(
            "corpus_ttr"
        ),
    )


@query(
    "q_cluster_split",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    ),
    closure AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM e),
    comp AS (SELECT a AS doc_id, MIN(b) AS canon_id FROM closure GROUP BY a),
    withroot AS (
        SELECT d.doc_id, COALESCE(c.canon_id, d.doc_id) AS root
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    tagged AS (
        SELECT doc_id, root,
               CASE WHEN ('0x' || substr(md5(CAST(root AS VARCHAR)), 1, 6))::BIGINT % 100 < 80
                    THEN 'train' ELSE 'test' END AS split
        FROM withroot
    )
    SELECT split, COUNT(*) AS n_docs,
           COUNT(DISTINCT root) AS n_clusters,
           COUNT(*) FILTER (WHERE doc_id <> root) AS n_dup_members
    FROM tagged GROUP BY split
    """,
)
def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/test split: hash-split on each document's
    near-dup CLUSTER ROOT instead of its own id, so a near-duplicate can
    never straddle the split (the q_train_test_split doc-id hash leaks:
    two 95%-identical docs land independently, and ~20% of dup pairs put
    one copy in train and one in test — memorization reads as
    generalization). This is the split a production corpus build runs
    AFTER near-dup detection; Lee et al. '21 measure exactly this
    train/test near-dup leakage as a headline motivation for dedup.

    Construction: roots come from the verified MinHash pair graph's
    connected components (q_dedup_clusters' machinery, shared through the
    memoized pair relation); singletons root to themselves; membership is
    the established portable md5 split hash (q_train_test_split's F8
    spelling) applied to the ROOT. Per split: doc count, distinct-cluster
    count, and how many non-canonical dup members rode along. Leakage
    safety is structural (same root ⇒ same hash input ⇒ same split) and
    pinned by a direct no-straddle pytest on the fixture corpus.

    Scale shape: the cluster relation is |clustered docs| broadcast into
    one left join; the split tag and root hash are row-local; ONE final
    2-group aggregate with map-side partials. BROADCAST CAVEAT (ADVICE
    r11): unlike the dim-table broadcasts, this side is NOT structurally
    tiny — on real crawl corpora dup-cluster membership runs 20–50% of
    documents, so the relation grows WITH the corpus. The hint is correct
    at this fixture's duplicate density (≪1 GiB even at sf100); past
    ~executor-memory/8 (the autoBroadcastJoinThreshold-grade bound, ~8 GiB
    of (doc_id, canon_id) pairs ≈ 500M clustered docs), drop the explicit
    `F.broadcast` and let AQE pick shuffle-vs-broadcast from the measured
    size — the join is a 2-column id-equi-join, so the shuffle degradation
    is a single well-partitioned hash join, not a plan rewrite. Oracle:
    the same recursive-CTE closure the cluster/pipeline oracles use, so
    the three can never drift."""
    # the shared label relation, not q_dedup_clusters' full report (r14):
    # the report spelling re-ran the live CC loop per call and carried the
    # cluster-size join this query never reads
    comp = _cc_labels_persisted(spark, sf_dir)
    d = load_spread(spark, sf_dir, "documents").select("doc_id")
    withroot = d.join(F.broadcast(comp), "doc_id", "left").select(
        "doc_id", F.coalesce("canon_id", "doc_id").alias("root")
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("root").cast("string")), 1, 6), 16, 10
        ).cast("bigint")
        % 100
    )
    split = F.when(bucket < 80, "train").otherwise("test")
    return (
        withroot.select(split.alias("split"), "root", "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("root").alias("n_clusters"),
            F.count(F.when(F.col("doc_id") != F.col("root"), 1)).alias(
                "n_dup_members"
            ),
        )
    )


DECON_NGRAM = 8  # published-pipeline decontamination n-gram length: long
# enough that random docs share none, short enough to catch partial overlap


@query(
    "q_decontaminate_ngram",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               unnest(CASE WHEN len(toks) >= {DECON_NGRAM}
                 THEN list_transform(generate_series(1, len(toks) - {DECON_NGRAM - 1}),
                                     i -> {_elem_gram_sql("toks", DECON_NGRAM)})
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    split AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 < 80
                   AS is_train
        FROM documents
    ),
    train_s AS (
        SELECT DISTINCT s FROM sh JOIN split USING (doc_id) WHERE is_train
    ),
    cont AS (
        SELECT DISTINCT sh.doc_id FROM sh
        JOIN split USING (doc_id)
        WHERE NOT is_train AND s IN (SELECT s FROM train_s)
    )
    SELECT lang,
           COUNT(*) AS n_test,
           COUNT(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM cont))
               AS n_contaminated
    FROM split WHERE NOT is_train
    GROUP BY lang
    """,
)
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram decontamination — the published-LLM-pipeline form of the
    train/test leakage check (GPT-3/PaLM style): a held-out doc is
    contaminated if it shares ANY {8}-token n-gram with any training doc,
    catching partial/embedded overlap that q_decontaminate's whole-text
    hash misses.

    Spark shape: n-grams are built row-local (split → slide → xxhash64 →
    array_distinct, zero shuffles — the _shingle_arrays idiom), train
    n-grams deduplicate in one hash aggregate, and test docs tag
    contaminated via a LEFT SEMI join on the 8-byte n-gram hash — only
    (hash, doc_id) ever shuffles, never text. The oracle runs on raw
    n-gram strings, so the hash match also certifies no xxhash64 collision
    bit (probability ~n²/2⁶⁵). At 100 TB the semi-join shuffles hash-
    partitioned longs; a hot (boilerplate) n-gram adds semi-join skew that
    AQE splits — there is no df² pair blowup anywhere (semi-join, not
    inner)."""
    d = load_spread(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    )
    n = DECON_NGRAM
    # NULL-text docs produce NO n-grams (r7 degraded-twin gate: concat_ws
    # never returns NULL, so a NULL doc's whole-doc gram silently became ''
    # and every null train doc 'contaminated' every null test doc; the
    # oracle's array_to_string keeps NULL, which IN () excludes). They still
    # COUNT in n_test below — no text just can't leak.
    grams = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (n - 1)),
            lambda i: F.array_join(F.slice("toks", i, n), " "),
        ),
    ).when(F.col("toks").isNotNull(), F.array(F.concat_ws(" ", "toks")))
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("bigint") % 100
    sh = d.select(
        "doc_id",
        "lang",
        (bucket < 80).alias("is_train"),
        F.explode(
            F.array_distinct(F.transform(grams, lambda s: F.xxhash64(s)))
        ).alias("s"),
    )
    train_s = sh.filter("is_train").select("s").distinct()
    cont = (
        sh.filter(~F.col("is_train"))
        .join(train_s, "s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    test_docs = d.select("doc_id", "lang").filter(bucket >= 80)
    return test_docs.join(cont, "doc_id", "left").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.count("hit").alias("n_contaminated"),
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al. '21, "Deduplicating Training Data Makes
# Language Models Better" — the ExactSubstr family). The paper builds a
# corpus-wide suffix array and removes any substring of >= 50 BPE tokens
# that occurs elsewhere in the corpus; the shuffle-friendly DataFrame
# equivalent is K-token shingle-hash runs: every duplicated maximal
# substring of length L >= K tokens flags positions p..p+L-K, which merge
# back into exactly the span [p, p+L-1]. K-granularity is the only
# approximation (two distinct duplicated substrings closer than K tokens
# merge into one removal span — conservative, same direction the paper
# errs). K = 10 words here because fixture docs are 10-99 tokens; the
# operator takes k as a parameter for the 50-token production setting.
# ---------------------------------------------------------------------------

SUBSTR_K = 10  # duplicated-run threshold, in whitespace tokens


def exact_substring_spans(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """Per-document remove-span report for corpus-duplicated substrings.

    A position p in doc d is *flagged* when the k-token shingle starting at
    p occurs >= 2 times in the whole corpus (any doc, including d itself —
    the paper's self-repetition case). Flagged positions closer than or
    exactly k apart merge into maximal spans (token ranges, 1-based
    inclusive), each the K-granular image of a maximal duplicated substring.

    Output: (doc_id, start_tok, end_tok, n_tokens), one row per span.

    Scale shape (100 TB): shingle hashes are built row-local (split →
    slide → xxhash64 — the _shingle_arrays idiom; only 8-byte hashes ever
    leave the row, never text). The duplicated set is ONE hash aggregate
    with map-side partial counts, pruned to count >= 2 BEFORE the left-semi
    join back — so the join's build side is only the duplicated hashes,
    shaped exactly like q_decontaminate_ngram's train-set semi-join. Run
    merging is a per-document window (lag + running sum): partitioning key
    is doc_id, per-partition state is one document's flagged positions —
    document-sized, never corpus-sized. No n² stage anywhere; a boilerplate
    shingle shared by millions of docs is semi-join skew that AQE splits.
    """
    from pyspark.sql import Window as W

    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    grams = (
        toks.filter(F.size("toks") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (k - 1)),
                    lambda i: F.xxhash64(F.array_join(F.slice("toks", i, k), " ")),
                )
            ).alias("p0", "h"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "h")
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("h")
    )
    # SHUFFLE_HASH, pinned (the q_ngram_jaccard rationale): the duplicated
    # set is corpus-scale on a real crawl, and a statically-planned
    # broadcast is never demoted by AQE — the executor would OOM collecting
    # the build side. Both sides are hash-partitioned longs; AQE splits a
    # hot boilerplate shingle.
    hits = grams.join(dup.hint("SHUFFLE_HASH"), "h", "left_semi").select(
        "doc_id", "pos"
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    isl = runs.withColumn("run_id", F.sum("brk").over(w))
    return (
        isl.groupBy("doc_id", "run_id")
        .agg(
            F.min("pos").cast("int").alias("start_tok"),
            (F.max("pos") + (k - 1)).cast("int").alias("end_tok"),
            (F.max("pos") + k - F.min("pos")).cast("int").alias("n_tokens"),
        )
        .select("doc_id", "start_tok", "end_tok", "n_tokens")
    )


# The shared CTE chain recomputing the ExactSubstr span positions from RAW
# shingle strings — the single source for BOTH substring oracles (r7 review:
# a duplicated chain would let a future span-semantics fix drift one twin).
_SUBSTR_SPANS_CTES = f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    pos AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(t) - {SUBSTR_K - 1}),
                   i -> {{'p': i,
                          'g': {_elem_gram_sql("t", SUBSTR_K)}}}))
                   AS u
        FROM base WHERE len(t) >= {SUBSTR_K}
    ),
    grams AS (SELECT doc_id, u.p AS pos, u.g AS gram FROM pos),
    dup AS (
        SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2
    ),
    hits AS (
        SELECT doc_id, pos FROM grams
        WHERE gram IN (SELECT gram FROM dup)
    ),
    runs AS (
        SELECT doc_id, pos,
               CASE WHEN pos - LAG(pos) OVER
                        (PARTITION BY doc_id ORDER BY pos) <= {SUBSTR_K}
                    THEN 0 ELSE 1 END AS brk
        FROM hits
    ),
    isl AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
        FROM runs
    )"""


@query(
    "q_dedup_substring",
    oracle=_SUBSTR_SPANS_CTES + f"""
    SELECT doc_id,
           CAST(MIN(pos) AS INT) AS start_tok,
           CAST(MAX(pos) + {SUBSTR_K - 1} AS INT) AS end_tok,
           CAST(MAX(pos) + {SUBSTR_K} - MIN(pos) AS INT) AS n_tokens
    FROM isl GROUP BY doc_id, run_id
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. '21 ExactSubstr): the remove-span
    report for every maximal corpus-duplicated run of >= SUBSTR_K (10)
    tokens. The oracle recomputes the spans from RAW shingle strings, so a
    green hash also certifies no xxhash64 collision reached the output (the
    same certification argument as q_decontaminate_ngram)."""
    d = load_spread(spark, sf_dir, "documents").select("doc_id", "text")
    return exact_substring_spans(d, SUBSTR_K)


_SUBSTR_APPLY_ORACLE = _SUBSTR_SPANS_CTES + f""",
    spans AS (
        SELECT doc_id, MIN(pos) AS s, MAX(pos) + {SUBSTR_K - 1} AS e
        FROM isl GROUP BY doc_id, run_id
    ),
    sl AS (
        SELECT doc_id, list(struct_pack(s := s, e := e)) AS sl
        FROM spans GROUP BY doc_id
    ),
    kept AS (
        SELECT b.doc_id, len(b.t) AS n_total,
               list_filter(
                   list_transform(
                       generate_series(1, len(b.t)),
                       i -> CASE WHEN len(list_filter(
                                COALESCE(sl.sl, []),
                                x -> x.s <= i AND i <= x.e)) = 0
                            THEN b.t[i] END),
                   tok -> tok IS NOT NULL) AS kt
        FROM base b LEFT JOIN sl ON b.doc_id = sl.doc_id
    )
    SELECT doc_id,
           -- COALESCE: DuckDB's array_to_string([]) is NULL where Spark's
           -- array_join([]) is '' — a fully-removed doc must read '' in both
           COALESCE(array_to_string(kt, ' '), '') AS clean_text,
           CAST(len(kt) AS INT) AS n_kept,
           CAST(n_total - len(kt) AS INT) AS n_removed
    FROM kept
"""


@query("q_dedup_substring_apply", oracle=_SUBSTR_APPLY_ORACLE)
def q_dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span APPLICATION — the end of the Lee et al. '21 ExactSubstr
    pipeline (VERDICT r6 #3): remove every flagged duplicated run from
    every document and emit the cleaned corpus. Every flagged OCCURRENCE
    is removed (each occurrence's shingles count >= 2 by symmetry — the
    released ExactSubstr tool's semantics), so a fully-duplicated document
    cleans to the empty string; tests/test_degenerate.py pins that case on
    the all-duplicates corpus.

    Scale shape (100 TB): the span report is exact_substring_spans
    (row-local shingle hashing, semi-join, per-document run merge — see
    q_dedup_substring); spans collapse to ONE per-doc span list
    (document-sized state: a doc's span count is bounded by its token
    count), then a single hash join back to the corpus on doc_id, pinned
    SHUFFLE_HASH — docs-with-spans is corpus-scale on a crawl, so a
    statically-planned broadcast could OOM the build side. The surgery
    itself is row-local HOF arithmetic (position-tagged filter over the
    token array; n_tokens × n_spans per row, no Python, no extra
    shuffle). The oracle recomputes the spans from RAW shingle strings and
    re-applies the same surgery, so a green hash certifies both the span
    set (collision-free) and the token-range removal."""
    d = load_spread(spark, sf_dir, "documents").select("doc_id", "text")
    return apply_substring_spans(d, SUBSTR_K)


def apply_substring_spans(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """The surgery behind q_dedup_substring_apply, reusable on any
    (doc_id, text) relation (the property suite drives it on random
    tiny-alphabet corpora at randomized k). NULL-text docs drop (no tokens
    to clean — the exact_substring_spans contract)."""
    d = docs.filter(F.col("text").isNotNull()).select("doc_id", "text")
    spans = exact_substring_spans(d, k)
    sl = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(F.col("start_tok").alias("s"), F.col("end_tok").alias("e"))
        ).alias("sl")
    )
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    joined = toks.join(sl.hint("SHUFFLE_HASH"), "doc_id", "left").select(
        "doc_id",
        "t",
        F.coalesce("sl", F.array().cast("array<struct<s:int,e:int>>")).alias("sl"),
    )
    tagged = F.transform(
        "t", lambda tok, i: F.struct(tok.alias("tok"), (i + 1).cast("int").alias("p"))
    )
    kept = F.filter(
        tagged,
        lambda x: ~F.exists(
            F.col("sl"), lambda s: (s["s"] <= x["p"]) & (x["p"] <= s["e"])
        ),
    )
    kt = F.transform(kept, lambda x: x["tok"])
    return joined.select(
        "doc_id",
        F.array_join(kt, " ").alias("clean_text"),
        F.size(kt).cast("int").alias("n_kept"),
        (F.size("t") - F.size(kt)).cast("int").alias("n_removed"),
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken '03 — the MOSS
# local-fingerprinting algorithm; r10 extension)
# --------------------------------------------------------------------------

WINNOW_K = 3   # tokens per gram (shared with the shingle family's k)
WINNOW_W = 4   # winnowing window: one fingerprint selected per w grams
WINNOW_DF_MAX = 10  # boilerplate cap: fingerprints in more docs don't pair


def _winnow_oracle() -> str:
    """DuckDB twin of q_winnow_fingerprint. Gram hashes via the linear
    element-indexed idiom (_elem_gram_sql — the list-SLICE spelling is
    quadratic, the r9 finding) and per-window minima via least() over w
    element accesses, so the whole selection is O(tokens) per document.
    md5 hex strings compare lexicographically identically in both engines
    (lowercase ASCII hex on UTF-8 bytes in both)."""
    gram = _elem_gram_sql("t", WINNOW_K)
    wins = ", ".join(f"hs[p+{j}]" for j in range(WINNOW_W))
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
        SELECT doc_id,
               CASE WHEN len(t) >= {WINNOW_K}
                    THEN list_transform(
                        generate_series(1, len(t) - {WINNOW_K - 1}),
                        i -> md5({gram}))
                    ELSE [] END AS hs
        FROM toks
    ),
    fp AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, len(hs) - {WINNOW_W - 1}),
                   p -> least({wins}))) AS fp
        FROM grams WHERE len(hs) >= {WINNOW_W}
    ),
    capped AS (
        SELECT fp FROM fp GROUP BY fp
        HAVING COUNT(*) BETWEEN 2 AND {WINNOW_DF_MAX}
    ),
    partners AS (
        SELECT a.doc_id, COUNT(DISTINCT b.doc_id) AS n_partners
        FROM fp a
        JOIN capped c ON a.fp = c.fp
        JOIN fp b ON a.fp = b.fp AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id
    ),
    prof AS (
        SELECT g.doc_id,
               CAST(CASE WHEN len(hs) >= 1 THEN len(hs) ELSE 0 END
                    AS BIGINT) AS n_grams,
               CAST(CASE WHEN len(hs) >= {WINNOW_W}
                    THEN len(list_distinct(list_transform(
                        generate_series(1, len(hs) - {WINNOW_W - 1}),
                        p -> least({wins}))))
                    ELSE 0 END AS BIGINT) AS n_fp
        FROM grams g
    )
    SELECT p.doc_id, p.n_grams, p.n_fp,
           CAST(COALESCE(pa.n_partners, 0) AS BIGINT) AS n_partners
    FROM prof p LEFT JOIN partners pa ON p.doc_id = pa.doc_id
    """


@query("q_winnow_fingerprint", oracle=_winnow_oracle())
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. '03, the MOSS
    algorithm) — the published LOCAL fingerprinting guarantee the rest of
    the dedup family lacks: selecting the minimum gram hash in every
    sliding window of w grams guarantees any shared token run of length
    ≥ w + k − 1 shares at least one selected fingerprint, while storing
    only ~1/w of the grams (MinHash bounds whole-document resemblance;
    ExactSubstr needs the k-token run itself to hash-join). Output per
    surviving document: gram count, distinct selected fingerprints, and
    the number of partner documents sharing a capped fingerprint — the
    candidate-set size a plagiarism/partial-overlap pass would verify.

    Scale shape: gram hashing and window minima are ROW-LOCAL HOF chains
    (transform over sequence + least of element_at — zero shuffle, linear
    per token since element access is O(1)); only the SELECTED
    fingerprints (~n_grams/w rows) explode into the pairing stage. The
    pairing is deliberately a SINGLE pipeline, never a self-join of the
    exploded relation: reusing that subtree in two join branches lets
    CollapseProject + join-side isnotnull pushdown inline the whole
    winnow expression into per-element references — each element_at then
    rebuilds the ENTIRE gram-hash array, O(n²) md5s per document
    (measured 204 s vs 0.6 s at sf0.001 building this query; the
    _shingle_arrays materialize-first rule generalized to HOF chains
    under a Generate). Instead: one shuffle on fp, a window COUNT for the
    document frequency (count-only — no giant per-key array before the
    cap), the df ≤ {WINNOW_DF_MAX} boilerplate cap, THEN collect_set over
    the ≤ df_max survivors (bounded arrays) and a row-local double
    explode into distinct partner pairs — the same hot-key discipline as
    the minhash band join, with the hot fingerprint's C(df,2) fan-out
    capped by a constant. NULL-text docs are excluded by contract (no
    text, no fingerprints — the shingle-family rule); docs with fewer
    than w + k − 1 tokens keep a profile row with n_fp = 0 and never
    pair."""
    return winnow_report(
        load_spread(spark, sf_dir, "documents").select("doc_id", "text")
    )


def winnow_report(docs: DataFrame) -> DataFrame:
    """Library form of q_winnow_fingerprint over any (doc_id, text)
    relation — split out so the brute-force property twin
    (tests/test_properties.py) can drive it on in-memory corpora without
    parquet staging. See the query docstring for the algorithm and the
    plan-shape contract."""
    from pyspark.sql.window import Window

    d = (
        docs
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
    )
    hs = F.when(
        F.size("t") >= WINNOW_K,
        F.transform(
            F.sequence(F.lit(0), F.size("t") - WINNOW_K),
            lambda i: F.md5(
                F.concat_ws(
                    " ",
                    *[F.element_at("t", i + j + 1) for j in range(WINNOW_K)],
                )
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", hs.alias("hs"))
    fps = F.when(
        F.size("hs") >= WINNOW_W,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("hs") - WINNOW_W),
                lambda p: F.least(
                    *[F.element_at("hs", p + j + 1) for j in range(WINNOW_W)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    prof = g.select(
        "doc_id",
        F.size("hs").cast("bigint").alias("n_grams"),
        fps.alias("fps"),
    )
    # Single pipeline from here: explode_OUTER → window df → cap → bounded
    # collect_set → row-local pair fan-out → distinct → per-doc count.
    # explode_outer, not explode: InferFiltersFromGenerate adds a
    # `size(fps) > 0` filter for a non-outer explode, and pushing it to
    # the scan substitutes the whole winnow expression — that filter is
    # the O(n²) monster described above. Outer explode infers nothing;
    # the cheap pre-filter below guarantees non-empty fps anyway, so the
    # outer form emits exactly the same rows (the isNotNull guard is a
    # belt for the impossible NULL row, evaluated on the materialized
    # attribute just above the Generate — never below it).
    docs_long_enough = d.filter(F.size("t") >= WINNOW_K + WINNOW_W - 1)
    hs_long = F.transform(
        F.sequence(F.lit(0), F.size("t") - WINNOW_K),
        lambda i: F.md5(
            F.concat_ws(
                " ",
                *[F.element_at("t", i + j + 1) for j in range(WINNOW_K)],
            )
        ),
    )
    fps_long = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("hs") - WINNOW_W),
            lambda p: F.least(
                *[F.element_at("hs", p + j + 1) for j in range(WINNOW_W)]
            ),
        )
    )
    partners = (
        docs_long_enough.select("doc_id", hs_long.alias("hs"))
        .select("doc_id", fps_long.alias("fps"))
        .select("doc_id", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("df").between(2, WINNOW_DF_MAX))
        .groupBy("fp")
        .agg(F.collect_set("doc_id").alias("docs"))
        .select(F.explode("docs").alias("doc_id"), "docs")
        .select("doc_id", F.explode("docs").alias("partner"))
        .filter(F.col("doc_id") != F.col("partner"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_partners"))
    )
    return (
        prof.select("doc_id", "n_grams", F.size("fps").cast("bigint").alias("n_fp"))
        .join(partners, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            "n_fp",
            F.coalesce("n_partners", F.lit(0)).cast("bigint").alias("n_partners"),
        )
    )


# --------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (AllPairs — Bayardo,
# Ma, Srikant '07; the PPJoin family's base filter; r10 extension)
# --------------------------------------------------------------------------

SETSIM_TAU = 0.5


def _setsim_oracle() -> str:
    """Brute inverted-index Jaccard in DuckDB on RAW shingle strings —
    no prefix filter, so a green hash certifies the Spark prefix filter
    is LOSSLESS on this corpus (and, via the shared _SHINGLE_SQL, that
    the xxhash64 set cardinalities saw no collision)."""
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {SETSIM_TAU}
    """


@query("q_setsim_join", oracle=_setsim_oracle())
def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join at Jaccard ≥ τ via prefix filtering
    (AllPairs, Bayardo et al. '07) over the per-document distinct shingle
    sets — the LOSSLESS member of the near-dup family: minhash-LSH
    banding is probabilistic and the posting-list form drops df-capped
    hot shingles, while the prefix filter provably generates every
    qualifying pair. The theorem: under any consistent total order of the
    token universe, if J(a,b) ≥ τ then the FIRST shared element falls in
    both prefixes of length |s| − ceil(τ·|s|) + 1 (otherwise one set
    holds its whole intersection in a suffix shorter than τ·|s| ≤ |a∩b| —
    contradiction). Ordering rare-first (ascending document frequency,
    ties by hash) makes prefixes the RAREST shingles, so boilerplate
    never fans out candidates unless the filter needs it.

    Scale shape: shingle sets come from the memoized barriered
    _shingle_arrays_persisted (shared with the minhash family — one
    build per session/corpus); document frequencies are one linear
    token shuffle; the canonical per-set order is a ROW-LOCAL sort_array
    over (df, hash) structs after one df-hydration join (never a global
    vocabulary sort); candidates join prefix-token to prefix-token
    (SHUFFLE_HASH — both sides corpus-scale on a crawl) and dedupe to
    distinct pairs BEFORE the verify; the verify hydrates the two full
    sets by doc_id and computes exact |∩|/|∪| row-locally
    (array_intersect on distinct long arrays). Jaccard output is a
    correctly-rounded division of exact ints — bit-identical across
    engines, no rounding discipline needed. NULL-text docs never enter
    (the shingle-family contract); short docs carry their whole-doc
    fallback shingle in BOTH twins."""
    return setsim_join_sets(
        _shingle_arrays_persisted(spark, sf_dir),
        SETSIM_TAU,
        pref=_setsim_prefix_persisted(spark, sf_dir),
    )


_PREF_MEMO: dict[tuple, tuple] = {}


def _setsim_prefix_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical-order prefix relation (doc_id, n, pos, h), persisted
    with the family's count barrier and memoized per (session,
    table-state) — the candidate stage SELF-JOINS it, and without a
    materialization point each join side re-runs the whole df-hydration
    shuffle + per-doc canonical sort (measured ~2x the stage cost; the
    _shingle_arrays_persisted rationale applies verbatim)."""
    from ..sources.io import _stat_sig, table_path
    from ._memo import session_memo

    return session_memo(
        _PREF_MEMO, spark, sf_dir,
        lambda: _stat_sig(table_path(sf_dir, "documents")),
        lambda: _setsim_prefix(
            _shingle_arrays_persisted(spark, sf_dir), SETSIM_TAU
        ),
    )


def _canonical_ordered(sets: DataFrame) -> DataFrame:
    """(doc_id, ordered: array<struct<df,h>>): each set in the family's
    canonical rare-first order (ascending document frequency, ties by
    hash) — one linear token shuffle for df, one df-hydration join, then
    a ROW-LOCAL sort_array over (df, h) structs; never a global
    vocabulary sort. Shared by the Jaccard prefix relation and the
    containment postings so the two joins can never disagree on the
    order (their positional filters compare positions ACROSS relations)."""
    tok = sets.select("doc_id", F.explode("sh").alias("h"))
    dfreq = tok.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        tok.join(dfreq.hint("SHUFFLE_HASH"), "h")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("h")))
            ).alias("ordered")
        )
    )


def _setsim_prefix(sets: DataFrame, tau: float) -> DataFrame:
    """(doc_id, n, pos, h): each set's canonical-order PREFIX of length
    n − ceil(τ·n) + 1, with 1-based position and the set size (order via
    :func:`_canonical_ordered`).

    The ceil carries the same 1e-9 slack as the overlap threshold `need`
    in setsim_join_sets: for a caller-supplied τ whose double repr sits a
    hair ABOVE the exact rational (e.g. a τ meant as 7/10), a bare ceil
    could overshoot an integer boundary and SHORTEN the prefix by one —
    the lossy direction. Subtracting 1e-9 before the ceil can only lower
    it, i.e. only LENGTHEN the prefix, which is always sound (ADVICE
    r10)."""
    ranked = _canonical_ordered(sets)
    n = F.size("ordered")
    p = (n - F.ceil(F.lit(tau) * n - F.lit(1e-9)) + 1).cast("int")
    return ranked.select(
        "doc_id",
        n.alias("n"),
        F.posexplode(F.slice("ordered", 1, p)).alias("pos0", "e"),
    ).select(
        "doc_id", "n", (F.col("pos0") + 1).alias("pos"), F.col("e.h").alias("h")
    )


def setsim_join_sets(
    sets: DataFrame, tau: float, pref: DataFrame | None = None
) -> DataFrame:
    """Library form of q_setsim_join over any (doc_id, sh: array<long>)
    relation of DISTINCT-element sets — split out so the brute-force
    property twin can certify the prefix filter's losslessness on random
    corpora (tests/test_properties.py). See the query docstring for the
    theorem and plan-shape contract.

    The candidate join carries PPJoin's two sound prunes (Xiao et al.
    '08) on top of the prefix filter, both provably lossless:

    - LENGTH filter: J ≥ τ ⟹ |a∩b| ≥ τ·max(|a|,|b|), and |a∩b| ≤
      min(|a|,|b|), so min ≥ τ·max — size-mismatched pairs never verify.
    - POSITIONAL filter: for the FIRST common element (1-based canonical
      positions i in a, j in b — it lies in both prefixes, see the query
      docstring), every other common element sits AFTER it in both sets,
      so |a∩b| ≤ 1 + min(|a|−i, |b|−j); a candidate survives only if
      that upper bound reaches the required overlap t = ceil(τ/(1+τ)·
      (|a|+|b|)) (the Jaccard⇔overlap identity). Keeping a pair when ANY
      shared prefix token passes is sound because the first common
      element itself always does for a qualifying pair.

    Both twins of every qualifying pair reach the verify regardless, so
    the filters affect COST, never output — the brute-force oracle and
    the random-corpus property certify exactly that."""
    cand = setsim_candidates(sets, tau, pref=pref)
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    i = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - i
    jac = i.cast("double") / union
    return (
        cand.join(sa.hint("SHUFFLE_HASH"), "doc_a")
        .join(sb.hint("SHUFFLE_HASH"), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= tau)
    )


def setsim_candidates(
    sets: DataFrame, tau: float, pref: DataFrame | None = None
) -> DataFrame:
    """The candidate stage alone: DISTINCT (doc_a, doc_b) pairs surviving
    the prefix + length + positional filters, BEFORE set hydration and the
    exact verify — split out so `scale_check.py --setsimcount` can certify
    candidate LINEARITY at 10× corpus size with a direct count (VERDICT
    r10 #4: the wall-clock factor alone was the weakest evidence in the
    dedup family; this is the same direct-count treatment the clustered
    semantic family's Σ|cell|² certificate gives)."""
    if pref is None:
        pref = _setsim_prefix(sets, tau)
    a = pref.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"),
        F.col("pos").alias("ia"), "h",
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"),
        F.col("pos").alias("jb"), F.col("h").alias("h2"),
    )
    # required overlap t = ceil(τ/(1+τ)·(na+nb)), with a 1e-9 slack before
    # the ceil: the two float roundings (τ/(1+τ) in Python, the product in
    # Spark) can land a hair ABOVE an exact integer boundary (e.g. τ=0.5,
    # na+nb divisible by 3), and ceil would then demand t+1 — silently
    # pruning a qualifying pair whose overlap is exactly t. The slack can
    # only LOWER the bound (admit more candidates), never lose one.
    need = F.ceil(
        F.lit(tau / (1.0 + tau)) * (F.col("na") + F.col("nb")) - F.lit(1e-9)
    ).cast("int")
    cand = (
        a.join(
            b.hint("SHUFFLE_HASH"),
            (F.col("h") == F.col("h2"))
            & (F.col("doc_a") < F.col("doc_b"))
            # length filter: min size must reach τ·max size
            & (F.least("na", "nb").cast("double")
               >= F.lit(tau) * F.greatest("na", "nb"))
            # positional filter: overlap upper bound vs required overlap
            & (1 + F.least(F.col("na") - F.col("ia"),
                           F.col("nb") - F.col("jb")) >= need),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return cand


# --------------------------------------------------------------------------
# Exact containment join (Broder '97 containment; the ASYMMETRIC member
# of the set-similarity family — r12 extension)
# --------------------------------------------------------------------------

CONTAIN_TAU = 0.8


def _containment_postings(sets: DataFrame) -> DataFrame:
    """(doc_id, n, pos, h) for EVERY position — the full canonical-order
    posting relation (the indexed side of the containment join; the
    probe side reuses the Jaccard prefix machinery at the containment
    τ). Shares :func:`_canonical_ordered` with _setsim_prefix so the two
    relations' positions are comparable by construction."""
    ranked = _canonical_ordered(sets)
    n = F.size("ordered")
    return ranked.select(
        "doc_id",
        n.alias("n"),
        F.posexplode("ordered").alias("pos0", "e"),
    ).select(
        "doc_id", "n", (F.col("pos0") + 1).alias("pos"), F.col("e.h").alias("h")
    )


def containment_join_sets(
    sets: DataFrame,
    tau: float,
    pref: DataFrame | None = None,
    post: DataFrame | None = None,
) -> DataFrame:
    """EXACT containment join over (doc_id, sh: array<long>) sets: every
    ORDERED pair (a, b), a ≠ b, with C(a→b) = |a∩b| / |a| ≥ τ — "τ of
    a's shingles also appear in b". The asymmetric sibling of
    setsim_join_sets: Jaccard symmetrizes away exactly the
    quotation/subset/boilerplate-inclusion structure this operator
    exists to find (a 50-shingle quote fully inside a 5,000-shingle page
    has J ≈ 0.01 but C = 1.0). Library form so the brute-force property
    twin can certify losslessness on random corpora.

    Candidate filters, all provably lossless with t = ceil(τ·|a| − 1e-9)
    (the family's slack — it can only LOWER t, admitting more):

    - PROBE PREFIX (the Jaccard prefix theorem verbatim, since
      _setsim_prefix's length n − ceil(τ·n) + 1 = n − t + 1): if
      |a∩b| ≥ t, the first common element in canonical order sits within
      a's first n − t + 1 positions — so probing with a's prefix only is
      sound. The INDEXED side is the FULL posting relation: containment
      puts no upper bound on |b|, so no symmetric prefix exists; the
      rare-first canonical order keeps probe prefixes on each set's
      RAREST shingles, bounding join fan-out by the prefix tokens'
      document frequencies.
    - LENGTH: |a∩b| ≤ |b|, so b qualifies only if |b| ≥ t (no upper
      bound — that is the point).
    - POSITIONAL: for the first common element at canonical positions
      (i in a, j in b), |a∩b| ≤ 1 + min(|a|−i, |b|−j) must reach t;
      keeping a pair when ANY matching row passes is sound because the
      first-common-element row always does for a qualifying pair.

    The verify hydrates both sets by doc_id and computes exact
    |∩|/|a| row-locally — one correctly-rounded division of exact ints,
    bit-identical across engines. Scale shape mirrors setsim: memoized
    persisted probe/posting relations, SHUFFLE_HASH candidate join
    (both sides corpus-scale on a crawl), distinct before hydration;
    candidates pair only within decorrelated replicas at ×K, so the
    stage scales like the Jaccard member's certified-linear one."""
    cand = containment_candidates(sets, tau, pref=pref, post=post)
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    cont = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size("sh_a")
    )
    return (
        cand.join(sa.hint("SHUFFLE_HASH"), "doc_a")
        .join(sb.hint("SHUFFLE_HASH"), "doc_b")
        .select("doc_a", "doc_b", cont.alias("containment"))
        .filter(F.col("containment") >= tau)
    )


def containment_candidates(
    sets: DataFrame,
    tau: float,
    pref: DataFrame | None = None,
    post: DataFrame | None = None,
) -> DataFrame:
    """The containment candidate stage alone: DISTINCT ordered (doc_a,
    doc_b) pairs surviving the probe-prefix + length + positional
    filters, BEFORE hydration/verify — split out so `scale_check.py
    --containcount` can certify candidate LINEARITY at ×10 with a direct
    count (the setsim/simhash precedent; this stage's indexed side is
    every token, the family's highest fan-out in principle)."""
    if pref is None:
        pref = _setsim_prefix(sets, tau)
    if post is None:
        post = _containment_postings(sets)
    a = pref.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"),
        F.col("pos").alias("ia"), "h",
    )
    b = post.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"),
        F.col("pos").alias("jb"), F.col("h").alias("h2"),
    )
    need = F.ceil(F.lit(tau) * F.col("na") - F.lit(1e-9)).cast("int")
    return (
        a.join(
            b.hint("SHUFFLE_HASH"),
            (F.col("h") == F.col("h2"))
            & (F.col("doc_a") != F.col("doc_b"))
            & (F.col("nb") >= need)
            & (1 + F.least(F.col("na") - F.col("ia"),
                           F.col("nb") - F.col("jb")) >= need),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


_CONT_PREF_MEMO: dict[tuple, tuple] = {}
_CONT_POST_MEMO: dict[tuple, tuple] = {}


def _containment_prefix_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The containment probe-prefix at CONTAIN_TAU (shorter than the
    Jaccard one, so not shared with _setsim_prefix_persisted), persisted
    with the family's count barrier and memoized per (session,
    table-state) — the _setsim_prefix_persisted rationale."""
    from ..sources.io import _stat_sig, table_path
    from ._memo import session_memo

    return session_memo(
        _CONT_PREF_MEMO, spark, sf_dir,
        lambda: _stat_sig(table_path(sf_dir, "documents")),
        lambda: _setsim_prefix(
            _shingle_arrays_persisted(spark, sf_dir), CONTAIN_TAU
        ),
    )


def _containment_postings_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full canonical posting relation (the indexed side), persisted +
    memoized like the prefix — without the barrier each candidate-join
    side re-runs the df shuffle + per-doc canonical sort."""
    from ..sources.io import _stat_sig, table_path
    from ._memo import session_memo

    return session_memo(
        _CONT_POST_MEMO, spark, sf_dir,
        lambda: _stat_sig(table_path(sf_dir, "documents")),
        lambda: _containment_postings(
            _shingle_arrays_persisted(spark, sf_dir)
        ),
    )


def _containment_oracle() -> str:
    """Brute inverted-index containment in DuckDB on RAW shingle strings
    — no prefix/positional filter anywhere, so a green hash certifies the
    Spark candidate stage dropped NOTHING on this corpus."""
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(i AS DOUBLE) / sa.n AS containment
    FROM inter JOIN sz sa ON doc_a = sa.doc_id
    WHERE CAST(i AS DOUBLE) / sa.n >= {CONTAIN_TAU}
    """


@query("q_containment_join", oracle=_containment_oracle())
def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT containment self-join at C(a→b) = |a∩b|/|a| ≥ τ over the
    per-document distinct shingle sets (Broder '97's containment — the
    ASYMMETRIC near-dup member the Jaccard join cannot express: quotation
    detection, subset/boilerplate inclusion, clipped-page dedup; a short
    document fully embedded in a long one is invisible to J but C = 1).
    Both directions are reported as separate ordered rows. See
    containment_join_sets for the lossless candidate theory (probe-side
    prefix at τ, full-posting indexed side, length + positional prunes)
    and the plan shape."""
    return containment_join_sets(
        _shingle_arrays_persisted(spark, sf_dir),
        CONTAIN_TAU,
        pref=_containment_prefix_persisted(spark, sf_dir),
        post=_containment_postings_persisted(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# Incremental dedup: a NEW batch against the EXISTING corpus (the A-vs-B
# production shape — r12 extension)
# --------------------------------------------------------------------------

INCR_NEW_PCT = 20  # the md5 doc_id split: buckets >= 80 play the new batch


@query(
    "q_dedup_incremental",
    oracle=f"""
    WITH {{PAIRS_CTES}},
    split AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
                   % 100 < {100 - INCR_NEW_PCT} AS is_base
        FROM documents WHERE text IS NOT NULL
    ),
    xpairs AS (
        SELECT CASE WHEN sn.is_base THEN p.doc_b ELSE p.doc_a END AS doc_new,
               p.jaccard
        FROM pairs p
        JOIN split sn ON p.doc_a = sn.doc_id
        JOIN split sb ON p.doc_b = sb.doc_id
        WHERE sn.is_base <> sb.is_base
    )
    SELECT s.doc_id,
           COUNT(x.jaccard) AS n_matches,
           MAX(x.jaccard) AS best_jaccard,
           COUNT(x.jaccard) = 0 AS is_new
    FROM split s LEFT JOIN xpairs x ON s.doc_id = x.doc_new
    WHERE NOT s.is_base
    GROUP BY s.doc_id
    """.format(PAIRS_CTES=_PAIRS_CTES),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup admission — the production shape every
    continuously-built corpus runs: dedup a NEW batch of documents
    against the EXISTING corpus only (never new-vs-new, never re-pairing
    the base against itself), reporting per new doc how many base
    near-duplicates it has (J ≥ 0.8), the best match score, and the
    admission decision (is_new). The batch is the established portable
    md5 doc_id split (the q_train_test_split F8 spelling; 20% plays the
    arriving batch) so both twins derive the same membership.

    Plan: the SAME memoized shingle arrays and the SAME adaptive LSH
    banding as q_dedup_minhash_pairs (shared through minhash_bands — any
    banding drift would silently change the candidate set), but the
    candidate join is new-bands × base-bands (A-vs-B, not self): at
    100 TB the base side's banding is the pre-computed index a
    production build keeps between runs, and ONLY the new batch computes
    signatures — the asymmetry is the whole point of the incremental
    form. Exact Jaccard verify on distinct cross pairs (two key joins,
    row-local array_intersect), then one per-new-doc aggregate with a
    LEFT join so zero-match docs report is_new = true. Recall is exact
    on this corpus for the same reason as q_dedup_minhash_pairs (module
    docstring); the brute-force oracle certifies it per run.

    Exactness: counts are BIGINTs, jaccard is one correctly-rounded
    division of exact ints, MAX over identical doubles — no rounding
    discipline needed anywhere."""
    arrs = _shingle_arrays_persisted(spark, sf_dir)
    n_bands, rows_per_band = _minhash_params(table_rows(sf_dir, "documents"))
    bands = minhash_bands(arrs, n_bands, rows_per_band)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
        ).cast("bigint")
        % 100
    )
    is_base = bucket < (100 - INCR_NEW_PCT)
    tagged = bands.select("doc_id", "band", "bh", is_base.alias("is_base"))
    newb = tagged.filter(~F.col("is_base")).select(
        F.col("doc_id").alias("doc_new"), "band", "bh"
    )
    baseb = tagged.filter(F.col("is_base")).select(
        F.col("doc_id").alias("doc_base"), "band", "bh"
    )
    cand = (
        newb.join(baseb.hint("SHUFFLE_HASH"), ["band", "bh"])
        .select("doc_new", "doc_base")
        .distinct()
    )
    a_arr = arrs.select(
        F.col("doc_id").alias("doc_new"), F.col("sh").alias("sh_n")
    )
    b_arr = arrs.select(
        F.col("doc_id").alias("doc_base"), F.col("sh").alias("sh_b")
    )
    i = F.size(F.array_intersect("sh_n", "sh_b"))
    jac = i.cast("double") / (F.size("sh_n") + F.size("sh_b") - i)
    pairs = (
        cand.join(a_arr, "doc_new")
        .join(b_arr, "doc_base")
        .select("doc_new", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    new_docs = arrs.select("doc_id").filter(~is_base)
    return (
        new_docs.join(
            pairs.withColumnRenamed("doc_new", "doc_id").hint(
                "SHUFFLE_HASH"  # batch-sized both sides; hash, never sort
            ),
            "doc_id",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("jaccard").alias("n_matches"),
            F.max("jaccard").alias("best_jaccard"),
            (F.count("jaccard") == 0).alias("is_new"),
        )
    )


def containment_apply(
    sets: DataFrame,
    tau: float = CONTAIN_TAU,
    pref: DataFrame | None = None,
    post: DataFrame | None = None,
) -> DataFrame:
    """The asymmetric REMOVAL decision q_containment_join exists to
    inform (VERDICT r12 #5 — the clipped-page/boilerplate-subset case):
    per document, whether it is contained at C ≥ τ in a canonically
    LARGER document and must be dropped, keeping the container. Library
    form so the planted subset/mutual pins can drive constructed corpora
    (the bm25_rank precedent).

    Canonical rule (one deterministic pass, no iteration): doc a is
    removed iff some pair a→b exists with |b| > |a|, or |b| = |a| and
    b.doc_id < a.doc_id — strictly-larger container wins, equal-size
    mutual pairs keep exactly the smallest doc_id. Removal is judged
    against the ORIGINAL corpus, not re-evaluated after removals (the
    apply_substring_spans precedent: every flagged occurrence acts;
    production containment dedup is this same one-pass greedy).

    Scale shape: the pair relation is the certified-linear containment
    candidate stage + verify (see containment_join_sets); the decision
    adds two 2-column size lookups joined onto the PAIRS (pair-sized,
    SHUFFLE_HASH-pinned — sizes are corpus-scale on a crawl, a static
    broadcast could OOM), one per-doc aggregate over flagged pairs, and
    one LEFT join back to the per-doc size relation so untouched docs
    report removed = false. No new corpus-side shuffle beyond doc_id
    hash partitioning."""
    pairs = containment_join_sets(sets, tau, pref=pref, post=post)
    sizes = sets.select("doc_id", F.size("sh").alias("n_set"))
    na = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_set").alias("na")
    )
    nb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_set").alias("nb")
    )
    flagged = (
        pairs.join(na.hint("SHUFFLE_HASH"), "doc_a")
        .join(nb.hint("SHUFFLE_HASH"), "doc_b")
        .filter(
            (F.col("nb") > F.col("na"))
            | ((F.col("nb") == F.col("na")) & (F.col("doc_b") < F.col("doc_a")))
        )
        .select("doc_a", "containment")
    )
    agg = flagged.groupBy("doc_a").agg(
        F.count(F.lit(1)).alias("n_containers"),
        F.max("containment").alias("best_containment"),
    )
    # compute the pre-coalesce count ONCE and derive both outputs from it:
    # the old spelling aliased a coalesced column to the same name
    # 'n_containers' its 'removed' expression read — it resolved against
    # the pre-projection join output, but the shadowed name was fragile
    # under refactoring (ADVICE r13)
    nc = F.col("n_containers")
    return (
        sizes.join(
            agg.withColumnRenamed("doc_a", "doc_id").hint("SHUFFLE_HASH"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "n_set",
            F.coalesce(nc, F.lit(0)).alias("n_containers_out"),
            "best_containment",
            nc.isNotNull().alias("removed"),
        )
        .withColumnRenamed("n_containers_out", "n_containers")
    )


def _containment_apply_oracle() -> str:
    """Brute inverted-index pairs (the q_containment_join certification
    argument: raw strings, no prune anywhere) + the same canonical
    removal rule. Unlike the pair oracles — where _SHINGLE_SQL's one
    (doc_id, NULL) row per NULL-text doc vanishes structurally because
    NULL never equi-joins — this report's per-doc LEFT JOIN would KEEP
    those rows, so sz filters them explicitly (the _shingle_arrays
    contract: no text, no shingles, no report row; real shingles are
    never NULL — split of non-null text yields non-null strings)."""
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sz AS (
        SELECT doc_id, COUNT(*) AS n FROM sh
        WHERE s IS NOT NULL GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    ),
    flagged AS (
        SELECT doc_a, CAST(i AS DOUBLE) / sa.n AS containment
        FROM inter
        JOIN sz sa ON doc_a = sa.doc_id
        JOIN sz sb ON doc_b = sb.doc_id
        WHERE CAST(i AS DOUBLE) / sa.n >= {CONTAIN_TAU}
          AND (sb.n > sa.n OR (sb.n = sa.n AND doc_b < doc_a))
    ),
    agg AS (
        SELECT doc_a, COUNT(*) AS n_containers,
               MAX(containment) AS best_containment
        FROM flagged GROUP BY doc_a
    )
    SELECT s.doc_id, s.n AS n_set,
           COALESCE(a.n_containers, 0) AS n_containers,
           a.best_containment,
           a.n_containers IS NOT NULL AS removed
    FROM sz s LEFT JOIN agg a ON s.doc_id = a.doc_a
    """


@query("q_containment_apply", oracle=_containment_apply_oracle())
def q_containment_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-dedup APPLICATION — the per-document keep/remove
    report completing the q_containment_join pipeline the way
    q_dedup_substring_apply completes ExactSubstr: every document with
    text, its shingle-set size, how many canonically-larger documents
    contain it at C ≥ 0.8, its best containment score, and the removal
    decision (drop the contained member, keep the container; equal-size
    mutual pairs keep exactly the smallest doc_id). The decision a
    100 TB clipped-page/boilerplate pass commits before rewriting the
    corpus. Rides the same memoized shingle/prefix/posting relations as
    q_containment_join — any candidate-stage drift would move both
    hashes. best_containment is one correctly-rounded division of exact
    ints (MAX over identical doubles) — no rounding discipline needed."""
    return containment_apply(
        _shingle_arrays_persisted(spark, sf_dir),
        CONTAIN_TAU,
        pref=_containment_prefix_persisted(spark, sf_dir),
        post=_containment_postings_persisted(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# Bloom-filter dedup (the Dolma "BFF" shape — Soldaini et al. '24; the
# filter-backed exact-dedup every streaming corpus build runs) — r13
# --------------------------------------------------------------------------

BLOOM_M_BITS = 4096  # filter size: small enough that FPs exist at test SF
BLOOM_K = 3          # hash functions


def _bloom_h48(text, j: int):
    """The 48-bit salted-md5 position BASE for hash j: md5 over a
    salt-prefixed text, first 12 hex digits as a BIGINT. ONE definition
    shared by _bloom_bits (single-m filter) and bloom_sweep_report (m-grid
    re-sizing of the same base) — a salt/substring change in one place can
    no longer diverge q_bloom_dedup from q_bloom_sweep (ADVICE r13)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"bff{j}:"), text)), 1, 12), 16, 10
    ).cast("bigint")


def _bloom_bits(text, m: int, k: int):
    """The k portable bit positions of a document: the shared 48-bit base
    (_bloom_h48) mod m — the established md5-bucket idiom, one independent
    position per salt."""
    return F.array(*[_bloom_h48(text, j) % m for j in range(k)])


def bloom_dedup_report(
    d: DataFrame, m: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> DataFrame:
    """Per-lang Bloom-dedup accounting: documents flagged by a BFF-style
    Bloom filter processed in doc_id order, split into true exact
    duplicates and false positives — the report a production build reads
    to size m and k before committing a filter pass. Library form so the
    sequential-simulation property twin can drive random corpora at
    adversarially small m (the bm25_rank precedent).

    Orderless restatement, EXACTLY equivalent to the sequential filter:
    in BFF, doc i is flagged iff all k of its bits are set when it
    arrives; since docs arrive in doc_id order, bit b is set at i's
    arrival iff SOME doc j < i carries b — i.e. min_setter(b) < i. A
    flagged doc contributes nothing to the filter state (all its bits
    are already set), so drop-on-flag and insert-always are the same
    filter — which is why the one-pass min-per-bit aggregate below
    reproduces the streaming semantics bit-for-bit (property-tested
    against a literal Python simulation at randomized m, k).

    No false negatives by construction: an exact duplicate's bits equal
    its original's, and the original has the smaller id (pinned on the
    all-duplicates corpus).

    Scale shape (100 TB): the filter never materializes as a bitmap —
    membership is a hash join on the bit id, so the filter SHARDS across
    executors (the Spark-first restatement of BFF's per-node in-memory
    bitmap; at 100 TB m becomes 2^40 and the bit relation is still just
    k rows per doc). One map-side-combinable MIN per bit, one k-row-
    per-doc conjunction aggregate, one exact-truth shuffle keyed on
    md5(text) (16-byte keys, never the text itself — the oracle's raw-
    text GROUP BY certifies per run that no md5 collision bit), and the
    final |langs|-group aggregate."""
    base = d.filter(F.col("text").isNotNull()).select(
        "doc_id", "lang", "text"
    )
    bits = base.select(
        "doc_id", F.explode(_bloom_bits(F.col("text"), m, k)).alias("bit")
    )
    first = bits.groupBy("bit").agg(F.min("doc_id").alias("first_id"))
    flags = (
        bits.join(first.hint("SHUFFLE_HASH"), "bit")
        .groupBy("doc_id")
        .agg(F.bool_and(F.col("first_id") < F.col("doc_id")).alias("flagged"))
    )
    keyed = base.select("doc_id", "lang", F.md5("text").alias("h"))
    truth = keyed.groupBy("h").agg(F.min("doc_id").alias("t_first"))
    return (
        keyed.join(flags.hint("SHUFFLE_HASH"), "doc_id")
        .join(truth.hint("SHUFFLE_HASH"), "h")
        .select(
            "lang",
            "flagged",
            (F.col("t_first") < F.col("doc_id")).alias("is_dup"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("flagged"), 1)).alias("n_flagged"),
            F.count(F.when(F.col("is_dup"), 1)).alias("n_true_dup"),
            F.count(F.when(F.col("flagged") & ~F.col("is_dup"), 1)).alias(
                "n_false_pos"
            ),
        )
    )


def _bloom_oracle() -> str:
    m, k = BLOOM_M_BITS, BLOOM_K
    pos = ", ".join(
        f"('0x' || substr(md5('bff{j}:' || text), 1, 12))::BIGINT % {m}"
        for j in range(k)
    )
    return f"""
    WITH d AS (
        SELECT doc_id, lang, text FROM documents WHERE text IS NOT NULL
    ),
    bits AS (SELECT doc_id, unnest([{pos}]) AS bit FROM d),
    first AS (SELECT bit, MIN(doc_id) AS first_id FROM bits GROUP BY bit),
    flags AS (
        SELECT b.doc_id, bool_and(f.first_id < b.doc_id) AS flagged
        FROM bits b JOIN first f USING (bit) GROUP BY b.doc_id
    ),
    truth AS (SELECT text, MIN(doc_id) AS t_first FROM d GROUP BY text)
    SELECT d.lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE fl.flagged) AS n_flagged,
           COUNT(*) FILTER (WHERE t.t_first < d.doc_id) AS n_true_dup,
           COUNT(*) FILTER (WHERE fl.flagged AND NOT t.t_first < d.doc_id)
               AS n_false_pos
    FROM d
    JOIN flags fl USING (doc_id)
    JOIN truth t ON d.text = t.text
    GROUP BY d.lang
    """


@query("q_bloom_dedup", oracle=_bloom_oracle())
def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter exact-dedup accounting (the Dolma BFF shape): per
    lang, how many documents a BFF-style filter (m = 4096 bits, k = 3,
    doc_id arrival order) would drop, split into true exact duplicates
    (never missed — Bloom has no false negatives) and false positives —
    the m/k sizing report. The filter is restated as a SHARDED bit
    relation (min-setter per bit + per-doc conjunction), provably
    equivalent to the sequential pass — see bloom_dedup_report. The
    oracle recomputes truth from RAW text, so a green hash also
    certifies the Spark side's md5 truth keying was collision-free."""
    return bloom_dedup_report(load_spread(spark, sf_dir, "documents"))


BLOOM_SWEEP_GRID = (1024, 4096, 16384, 65536)  # filter sizes swept


def bloom_sweep_report(
    d: DataFrame, grid: tuple[int, ...] = BLOOM_SWEEP_GRID, k: int = BLOOM_K
) -> DataFrame:
    """The m-SIZING sweep q_bloom_dedup's single-m report exists to feed:
    ONE corpus pass evaluates the BFF filter at every size in ``grid``
    simultaneously — per m: docs flagged, true duplicates (invariant in
    m), and false positives (the curve a production build reads to pick
    the smallest filter with acceptable FP mass, BEFORE allocating 2^40
    bits per node). Positions at every m derive from the SAME 48-bit
    salted-md5 base (h48 % m) — exactly how a production filter re-sizes
    without re-hashing; the bloom_dedup_report equivalence argument
    applies per m unchanged (min-setter < i ≡ sequential flagging).

    Scale shape: the k-row-per-doc base hash relation fans out by
    |grid| (still O(k·|grid|) rows per doc), one min-per-(m, bit)
    aggregate with map-side partials, one per-(doc, m) conjunction, the
    md5-keyed exact truth shuffle SHARED once across the whole grid, and
    a |grid|-group final aggregate. The corpus text is scanned and
    hashed ONCE for all sizes."""
    base = d.filter(F.col("text").isNotNull()).select(
        "doc_id", "lang", "text"
    )
    h48 = F.array(*[_bloom_h48(F.col("text"), j) for j in range(k)])
    hs = base.select("doc_id", F.explode(h48).alias("h48"))
    bits = hs.select(
        "doc_id",
        "h48",
        F.explode(F.array(*[F.lit(m) for m in grid])).alias("m"),
    ).select("doc_id", "m", (F.col("h48") % F.col("m")).alias("bit"))
    first = bits.groupBy("m", "bit").agg(F.min("doc_id").alias("first_id"))
    flags = (
        bits.join(first.hint("SHUFFLE_HASH"), ["m", "bit"])
        .groupBy("doc_id", "m")
        .agg(F.bool_and(F.col("first_id") < F.col("doc_id")).alias("flagged"))
    )
    keyed = base.select("doc_id", F.md5("text").alias("h"))
    truth = keyed.groupBy("h").agg(F.min("doc_id").alias("t_first"))
    return (
        keyed.join(truth.hint("SHUFFLE_HASH"), "h")
        .join(flags.hint("SHUFFLE_HASH"), "doc_id")
        .select(
            "m",
            "flagged",
            (F.col("t_first") < F.col("doc_id")).alias("is_dup"),
        )
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("flagged"), 1)).alias("n_flagged"),
            F.count(F.when(F.col("is_dup"), 1)).alias("n_true_dup"),
            F.count(F.when(F.col("flagged") & ~F.col("is_dup"), 1)).alias(
                "n_false_pos"
            ),
        )
    )


def _bloom_sweep_oracle() -> str:
    k = BLOOM_K
    pos = ", ".join(
        f"('0x' || substr(md5('bff{j}:' || text), 1, 12))::BIGINT"
        for j in range(k)
    )
    ms = ", ".join(f"({m})" for m in BLOOM_SWEEP_GRID)
    return f"""
    WITH d AS (
        SELECT doc_id, text FROM documents WHERE text IS NOT NULL
    ),
    h AS (SELECT doc_id, unnest([{pos}]) AS h48 FROM d),
    bits AS (
        SELECT doc_id, g.m, h48 % g.m AS bit
        FROM h CROSS JOIN (VALUES {ms}) g(m)
    ),
    first AS (SELECT m, bit, MIN(doc_id) AS first_id FROM bits GROUP BY m, bit),
    flags AS (
        SELECT b.doc_id, b.m, bool_and(f.first_id < b.doc_id) AS flagged
        FROM bits b JOIN first f ON b.m = f.m AND b.bit = f.bit
        GROUP BY b.doc_id, b.m
    ),
    truth AS (SELECT text, MIN(doc_id) AS t_first FROM d GROUP BY text)
    SELECT fl.m,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE fl.flagged) AS n_flagged,
           COUNT(*) FILTER (WHERE t.t_first < d.doc_id) AS n_true_dup,
           COUNT(*) FILTER (WHERE fl.flagged AND NOT t.t_first < d.doc_id)
               AS n_false_pos
    FROM d
    JOIN flags fl USING (doc_id)
    JOIN truth t ON d.text = t.text
    GROUP BY fl.m
    """


@query("q_bloom_sweep", oracle=_bloom_sweep_oracle())
def q_bloom_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter SIZING sweep: the BFF accounting of q_bloom_dedup
    evaluated at m ∈ {1k, 4k, 16k, 64k} in ONE corpus pass (text hashed
    once; positions at every m derive from the same 48-bit base, exactly
    how a production filter re-sizes) — per m, flagged / true-dup /
    false-positive counts. The curve a 100 TB build reads to pick the
    smallest filter with acceptable FP mass; at sf0.01 it reads
    79 → 3 → 0 → 0 FPs across the grid. True duplicates are flagged at
    EVERY m (no false negatives at any size — the sweep pin)."""
    return bloom_sweep_report(load_spread(spark, sf_dir, "documents"))
