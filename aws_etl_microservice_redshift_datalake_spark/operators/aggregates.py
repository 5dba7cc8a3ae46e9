"""Aggregation operators — SURVEY.md §2.4 A1-A15.

Reference parity: Redshift's GROUP BY / aggregate-function surface (public
semantics; /root/reference is empty — SURVEY.md §0).

Scale notes (100 TB):
- Spark's hash aggregate is automatically two-phase (partial map-side combine
  → shuffle on group keys → final merge), so high-cardinality group-bys scale
  without manual work; verify with .explain → two HashAggregate nodes.
- COUNT(DISTINCT) expands + re-aggregates (also automatic two-phase).
- `q_agg_salted` (A15) demonstrates the explicit salting pattern for the one
  case AQE can't fix alone: a single hot key whose *final* aggregation still
  lands on one reducer.
- approx_count_distinct / percentile_approx are the constant-memory
  at-scale variants of their exact twins (sketches merge associatively).

Float discipline (registry.rnd): double SUMs are rounded at the data's
decimal granularity on both sides; AVGs are expressed as rounded-sum / count
(bit-identical IEEE division) — never a rounded quotient.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import (
    QTY_MAX,
    exact_sum,
    md5_bucket,
    money_col,
    o_exact_sum,
    o_md5_bucket,
    o_money_col,
    query,
    rnd,
)
from ..sources.io import load_table


@query(
    "q_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM({qty}), 2)   AS sum_qty,
           ROUND(SUM({price}), 2) AS sum_base_price,
           {disc} AS sum_disc_price,
           {charge} AS sum_charge,
           ROUND(SUM({qty}), 2) / COUNT(*)   AS avg_qty,
           ROUND(SUM({price}), 2) / COUNT(*) AS avg_price,
           ROUND(SUM({discount}), 2) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """.format(
        qty=o_money_col("l_quantity", QTY_MAX),
        price=o_money_col("l_extendedprice"),
        discount=o_money_col("l_discount"),
        disc=o_exact_sum("l_extendedprice * (1.0::DOUBLE - l_discount)", 4),
        charge=o_exact_sum("l_extendedprice * (1.0::DOUBLE - l_discount) * (1.0::DOUBLE + l_tax)", 6),
    ),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 + flagship (TPC-H Q1 shape): filter → hash group-by → sums/avgs.

    The canonical warehouse aggregate: one scan, map-side partial agg, tiny
    shuffle (6 groups), final agg. At 100 TB this is scan-bound — exactly
    what you want. Every raw double SUM folds the MONEY_MAX/QTY_MAX
    conformance guard (r9 raw-sum wave — a finite-absurd ±1e308 otherwise
    absorbs or order-dependently cancels the whole group's sum past any
    isfinite check); the averages divide the guarded sums by the UNGUARDED
    COUNT(*), spelled identically in the oracle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    qty = money_col(F.col("l_quantity"), QTY_MAX)
    price = money_col(F.col("l_extendedprice"))
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            rnd(F.sum(qty)).alias("sum_qty"),
            rnd(F.sum(price)).alias("sum_base_price"),
            exact_sum(disc_price, 4).alias("sum_disc_price"),
            exact_sum(charge, 6).alias("sum_charge"),
            (rnd(F.sum(qty)) / cnt).alias("avg_qty"),
            (rnd(F.sum(price)) / cnt).alias("avg_price"),
            (rnd(F.sum(money_col(F.col("l_discount")))) / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@query(
    "q_agg_global",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           ROUND(SUM({o_money_col("o_totalprice")}), 2) AS sum_price,
           ROUND(SUM({o_money_col("o_totalprice")}), 2) / COUNT(*) AS avg_price,
           MIN({o_money_col("o_totalprice")}) AS min_price,
           MAX({o_money_col("o_totalprice")}) AS max_price,
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date
    FROM orders
    """,
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: global (no-key) aggregate. min/max are order-insensitive exact, so
    they pass through unrounded; the whole money report (sum AND min/max)
    describes the MONEY_MAX-conforming population (r9 raw-sum wave) so a
    single ±1e308/NaN sentinel can neither poison the sum nor masquerade as
    the corpus extremum. COUNT(*) stays unguarded — it audits arrivals, not
    conforming values — mirrored in the oracle."""
    o = load_table(spark, sf_dir, "orders")
    price = money_col(F.col("o_totalprice"))
    cnt = F.count(F.lit(1))
    return o.agg(
        cnt.alias("n_rows"),
        rnd(F.sum(price)).alias("sum_price"),
        (rnd(F.sum(price)) / cnt).alias("avg_price"),
        F.min(price).alias("min_price"),
        F.max(price).alias("max_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


@query(
    "q_agg_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_cust,
           COUNT(DISTINCT o_orderstatus) AS n_status,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: exact COUNT(DISTINCT) per group (Spark plans Expand + two-phase)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderstatus").alias("n_status"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query("q_agg_approx_distinct")  # rows-only: HLL sketches differ across engines
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: approx_count_distinct (HyperLogLog++) — the 100 TB-scale variant of
    A3: constant memory, mergeable sketch, no expand. Values are
    implementation-defined so the driver records a rows-only check; the pytest
    suite asserts the estimate is within tolerance of the exact count."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_n_cust"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q_agg_stats",
    oracle=f"""
    WITH li AS (
        SELECT l_returnflag,
               {o_money_col("l_extendedprice")} AS price,
               {o_money_col("l_quantity", QTY_MAX)} AS qty
        FROM lineitem
    )
    SELECT l_returnflag,
           ROUND(stddev_samp(price), 4) AS sd_price,
           ROUND(stddev_pop(price), 4)  AS sdp_price,
           ROUND(var_samp(qty), 4)      AS var_qty,
           CASE WHEN stddev_samp(qty) * stddev_samp(price) <> 0
                THEN ROUND(covar_samp(qty, price)
                           / (stddev_samp(qty)
                              * stddev_samp(price)), 6)
           END AS corr_qty_price,
           ROUND(covar_samp(qty, price), 4) AS cov_qty_price
    FROM li
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: statistical aggregates (stddev/variance/corr/covar). Outputs are
    continuous-valued (not on a decimal grid), so plain rounding is safe.

    Pearson correlation is spelled as the identity covar_samp/(sx·sy) with
    a zero-variance guard rather than the builtin corr: Spark 4's builtin
    throws DIVIDE_BY_ZERO under ANSI when either column is constant within
    a group (r6 zero-money degenerate sweep), and wrapping the BUILTIN in
    CASE cannot help — aggregate results are evaluated in the final
    projection before the CASE picks. The identity form divides three
    already-evaluated aggregates, so the guard short-circuits lazily; both
    engines compute the exact same formula (DuckDB's corr returns NULL on
    zero variance, matching the guard). The guard tests the PRODUCT sx·sy —
    the actual divisor — not the factors: two denormal-small stddevs can
    each be nonzero while their product underflows to exactly 0.0 (r6
    review).

    Inputs carry the MONEY_MAX/QTY_MAX conformance guard in both twins
    (r8 degmoney wave): a single ±1e308 price otherwise overflows the
    variance accumulator — DuckDB's STDDEV_SAMP THROWS Out of Range, and
    a NaN poisons every moment — so non-conforming values null out and
    the moment aggregates skip them identically. covar pairs drop when
    EITHER side is non-conforming (NULL-pair semantics, both engines).
    No-op on clean money."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        money_col(F.col("l_extendedprice")).alias("price"),
        money_col(F.col("l_quantity"), QTY_MAX).alias("qty"),
    )
    sx = F.stddev_samp("qty")
    sy = F.stddev_samp("price")
    cov = F.covar_samp("qty", "price")
    return li.groupBy("l_returnflag").agg(
        rnd(F.stddev_samp("price"), 4).alias("sd_price"),
        rnd(F.stddev_pop("price"), 4).alias("sdp_price"),
        rnd(F.var_samp("qty"), 4).alias("var_qty"),
        F.when((sx * sy) != 0, rnd(cov / (sx * sy), 6)).alias(
            "corr_qty_price"
        ),
        rnd(F.covar_samp("qty", "price"), 4).alias("cov_qty_price"),
    )


@query(
    "q_agg_percentile",
    oracle=f"""
    WITH li AS (
        SELECT l_returnflag,
               {o_money_col("l_extendedprice")} AS price,
               {o_money_col("l_quantity", QTY_MAX)} AS qty
        FROM lineitem
    )
    SELECT l_returnflag,
           ROUND(quantile_cont(qty, 0.5), 4)   AS median_qty,
           ROUND(quantile_cont(price, 0.25), 4) AS p25_price,
           ROUND(quantile_cont(price, 0.90), 4) AS p90_price,
           ROUND(median(qty), 4) AS med2_qty
    FROM li
    GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: exact PERCENTILE_CONT / median (linear interpolation).

    Exact percentiles buffer each group — fine for oracle-checked small-sf
    runs; the at-scale variant is q_agg_approx_pct (quantile sketch).

    Inputs carry the MONEY_MAX/QTY_MAX conformance guard in both twins
    (r8 degmoney wave): both aggregates skip NULL, but the engines treat
    raw NaN DIFFERENTLY (DuckDB quantile feeds NaN through the sort —
    NaN results; Spark percentile excludes it), and a ±1e308 sentinel
    shifts every rank. The guard nulls all non-conforming values so both
    engines rank the same multiset. No-op on clean money."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        money_col(F.col("l_extendedprice")).alias("price"),
        money_col(F.col("l_quantity"), QTY_MAX).alias("qty"),
    )
    return li.groupBy("l_returnflag").agg(
        rnd(F.percentile("qty", 0.5), 4).alias("median_qty"),
        rnd(F.percentile("price", 0.25), 4).alias("p25_price"),
        rnd(F.percentile("price", 0.90), 4).alias("p90_price"),
        rnd(F.median("qty"), 4).alias("med2_qty"),
    )


@query("q_agg_approx_pct")  # rows-only: sketch quantiles are implementation-defined
def q_agg_approx_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: approx percentile — bounded-memory quantile sketch, the 100 TB
    path (mergeable across partitions, no per-group buffering)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_agg_having",
    oracle=f"""
    SELECT c_nationkey,
           COUNT(*) AS n_cust,
           ROUND(SUM({o_money_col("c_acctbal")}), 2) AS sum_bal
    FROM customer
    GROUP BY c_nationkey
    HAVING COUNT(*) >= 40
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: HAVING — post-aggregation filter (on the exact integer count, so no
    float-boundary risk in the predicate). The balance sum folds the
    MONEY_MAX conformance guard in both twins (r9 raw-sum wave)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            rnd(F.sum(money_col(F.col("c_acctbal")))).alias("sum_bal"),
        )
        .filter(F.col("n_cust") >= 40)
    )


@query(
    "q_agg_conditional",
    oracle="""
    SELECT o_orderpriority,
           ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0::DOUBLE END), 2) AS finished_value,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
           CASE WHEN COUNT(CASE WHEN o_totalprice > 100000.0::DOUBLE THEN 1 END) <> 0
                THEN ROUND(SUM(CASE WHEN o_totalprice > 100000.0::DOUBLE THEN o_totalprice ELSE 0.0::DOUBLE END), 2)
                     / COUNT(CASE WHEN o_totalprice > 100000.0::DOUBLE THEN 1 END)
           END AS avg_big
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: conditional aggregation — SUM/COUNT/AVG over CASE (pivot-style
    measures, the core ETL reporting idiom). A group with no qualifying
    rows yields NULL avg_big, not a crash: the hand-spelled sum/count
    ratio divides by the conditional COUNT, which is 0 whenever no row
    clears the threshold — under ANSI that threw DIVIDE_BY_ZERO (r6
    zero-money sweep). The guard divides two already-evaluated aggregates
    lazily, spelled identically in the oracle twin."""
    o = load_table(spark, sf_dir, "orders")
    is_big = F.col("o_totalprice") > 100000.0
    big_n = F.count(F.when(is_big, F.lit(1)))
    return o.groupBy("o_orderpriority").agg(
        rnd(F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(0.0))).alias(
            "finished_value"
        ),
        F.count(F.when(F.col("o_orderstatus") == "O", F.lit(1))).alias("n_open"),
        F.when(
            big_n != 0,
            rnd(F.sum(F.when(is_big, F.col("o_totalprice")).otherwise(0.0))) / big_n,
        ).alias("avg_big"),
    )


@query(
    "q_agg_collect",
    oracle=f"""
    SELECT l_returnflag,
           array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses,
           array_to_string(list_sort(list_distinct(list(
               CASE WHEN l_quantity BETWEEN -{QTY_MAX:.0f} AND {QTY_MAX:.0f}
                    THEN CAST(l_quantity AS BIGINT) END))), ',') AS qty_domain
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: collect_set → sorted array per group (sorted for determinism —
    collect order is partition-order-dependent; SURVEY.md §5.3). The array is
    serialized to a CSV string because oracle-checked outputs stay scalar
    primitives (numpy arrays vs python lists hash differently across pandas
    bridges). The quantity narrowing carries the QTY_MAX guard (r7
    extreme-money sweep: ANSI CAST_OVERFLOW on a 1e308 sentinel) —
    non-conforming rows become NULL, which Spark's collect_set drops and
    DuckDB's array_to_string skips, so the serialized domain agrees."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias("statuses"),
        F.array_join(
            F.sort_array(
                F.collect_set(
                    F.when(qty.between(-QTY_MAX, QTY_MAX), qty).cast("bigint")
                )
            ),
            ",",
        ).alias("qty_domain"),
    )


@query(
    "q_agg_maxby",
    oracle="""
    SELECT o_orderpriority,
           arg_max(o_custkey, o_orderkey) AS latest_cust,
           arg_min(o_custkey, o_orderkey) AS earliest_cust,
           MAX(o_orderkey) AS max_okey,
           MIN(o_orderkey) AS min_okey
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: max_by/min_by (argmax/argmin) — keyed on the unique o_orderkey so
    the result is deterministic (ties in the ordering value would be
    engine-arbitrary)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_custkey", "o_orderkey").alias("latest_cust"),
        F.min_by("o_custkey", "o_orderkey").alias("earliest_cust"),
        F.max("o_orderkey").alias("max_okey"),
        F.min("o_orderkey").alias("min_okey"),
    )


@query(
    "q_agg_mode",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events GROUP BY user_id, event_type
    ), ranked AS (
        SELECT user_id, event_type, cnt,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type ASC) AS rn
        FROM counts
    )
    SELECT user_id, event_type AS mode_event, cnt AS mode_count
    FROM ranked WHERE rn = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: per-group mode. Built deterministically (count + window, ties
    broken by value asc) rather than F.mode, whose tie-breaking is
    engine-arbitrary and would not hash-match any oracle."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event"), F.col("cnt").alias("mode_count"))
    )


@query(
    "q_pivot",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events
    GROUP BY 1
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: pivot (rows → columns on a small closed domain). Explicit value
    list so the plan is one pass (no distinct-collect on the driver);
    missing cells coalesced to 0 to match SQL's COUNT FILTER."""
    e = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    piv = (
        e.withColumn("day", F.date_trunc("day", "ts").cast("date"))
        .groupBy("day")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    return piv.select("day", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds])


@query(
    "q_agg_salted",
    oracle=f"""
    SELECT l_suppkey,
           COUNT(*) AS n_items,
           ROUND(SUM({o_money_col("l_extendedprice")}), 2) AS sum_price
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: skew-safe two-phase aggregation via explicit salting.

    Phase 1 groups by (key, salt) so a hot key's rows spread over N_SALT
    reducers; phase 2 merges the partials. Result is identical to a plain
    group-by (the oracle) — the point is the plan shape at 100 TB with a
    skewed key. Counts re-aggregate with SUM; sums with SUM; avg would carry
    (sum, count) pairs. The MONEY_MAX conformance guard sits on the RAW
    input at phase 1 (r9 raw-sum wave); phase 2 sums the already-conforming
    partials unguarded — a partial of conforming rows can legitimately
    exceed any per-row bound, and guarding it would null real data.
    """
    n_salt = 8
    li = load_table(spark, sf_dir, "lineitem")
    partial = (
        li.withColumn("_salt", F.pmod(F.col("l_orderkey"), F.lit(n_salt)))
        .groupBy("l_suppkey", "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(money_col(F.col("l_extendedprice"))).alias("_s"),
        )
    )
    return partial.groupBy("l_suppkey").agg(
        F.sum("_n").alias("n_items"),
        rnd(F.sum("_s")).alias("sum_price"),
    )


@query(
    "q_agg_listagg",
    oracle="""
    SELECT s_nationkey,
           string_agg(s_name, ',' ORDER BY s_name) AS supplier_list,
           COUNT(*) AS n_suppliers
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG (Redshift's ordered string aggregation — LISTAGG(x, ',')
    WITHIN GROUP (ORDER BY x)): supplier roster per nation. Spark 4's
    ``listagg`` with WITHIN GROUP ordering makes the concatenation
    deterministic, so the string output is hash-stable (DuckDB twin:
    ``string_agg(x, ',' ORDER BY x)``). At scale the ordered variant sorts
    within each group partition — bounded by group size, not table size."""
    s = load_table(spark, sf_dir, "supplier")
    return s.groupBy("s_nationkey").agg(
        F.expr("listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name)").alias(
            "supplier_list"
        ),
        F.count(F.lit(1)).alias("n_suppliers"),
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value
    FROM orders WHERE o_orderkey < 100
    UNION ALL
    SELECT o_orderkey, 'o_custkey', CAST(o_custkey AS DOUBLE)
    FROM orders WHERE o_orderkey < 100
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→tall, the inverse of A14's pivot): each order row emits
    one row per metric column via ``stack`` — a row-local Expand, no
    shuffle, no join; the idiom every metrics pipeline uses to normalize
    wide fact tables. (Redshift ships UNPIVOT; Spark expresses it as
    stack/unpivot — same Expand plan.)"""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    return o.selectExpr(
        "o_orderkey",
        "stack(2, 'o_totalprice', o_totalprice,"
        " 'o_custkey', CAST(o_custkey AS DOUBLE)) AS (metric, value)",
    ).select("o_orderkey", "metric", "value")


@query("q_freq_items", oracle=None)
def q_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Spark's Misra-Gries-style ``freqItems`` sketch —
    the single-pass, fixed-memory answer to "which values exceed s% support"
    at 100 TB (the exact twin is a full groupBy; see q_word_freq). The
    sketch guarantees a SUPERSET of the true frequent items (possible false
    positives, never false negatives) — rows-only by design since the
    false-positive set is engine/merge-order specific;
    tests/test_quality.py asserts the superset guarantee against exact
    counts. Output: one row per frequent (column, value) pair, ordered."""
    li = load_table(spark, sf_dir, "lineitem")
    fi = li.stat.freqItems(["l_returnflag", "l_linestatus"], support=0.2)
    flags = fi.select(
        F.explode("l_returnflag_freqItems").alias("value")
    ).select(F.lit("l_returnflag").alias("col_name"), "value")
    stats = fi.select(
        F.explode("l_linestatus_freqItems").alias("value")
    ).select(F.lit("l_linestatus").alias("col_name"), "value")
    return flags.unionByName(stats).orderBy("col_name", "value")


# --------------------------------------------------------------------------
# Count-min sketch (A7-family): DataFrame-native, fully distributed
# --------------------------------------------------------------------------


def cms_build(
    df: DataFrame, col: str, eps: float = 0.005, confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """Build a count-min sketch over ``df[col]`` as a tiny counts DataFrame
    ``(h_row, bucket, cnt)`` with depth = ⌈ln(1/δ)⌉ rows (δ = 1-confidence)
    and width = ⌈e/ε⌉ buckets per row.

    Pure built-ins: each input row expands to ``depth`` (h_row, bucket)
    pairs via xxhash64 with per-row seeds, then one map-side-combinable
    groupBy collapses 100 TB of input into at most depth×width cells — the
    sketch shuffle is O(depth·width) regardless of input size, which is the
    whole point of CMS at scale. Estimates (``cms_estimate``) never
    under-count, and over-count by ≤ ε·N with probability ≥ confidence.
    """
    import math

    depth = max(1, math.ceil(math.log(1.0 / (1.0 - confidence))))
    width = max(1, math.ceil(math.e / eps))
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("h_row"),
                F.pmod(F.xxhash64(F.col(col), F.lit(seed * 31 + i)), F.lit(width))
                .alias("bucket"),
            )
            for i in range(depth)
        ]
    )
    return (
        df.select(F.explode(pairs).alias("h"))
        .groupBy(F.col("h.h_row").alias("h_row"), F.col("h.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, col: str, eps: float = 0.005,
    confidence: float = 0.99, seed: int = 42,
) -> DataFrame:
    """Point-query the sketch for every row of ``keys[col]``: recompute the
    same depth hash buckets, broadcast-join the (tiny) sketch, and take the
    row-wise MIN — returns ``(col, est)``. Missing cells count as 0."""
    import math

    depth = max(1, math.ceil(math.log(1.0 / (1.0 - confidence))))
    width = max(1, math.ceil(math.e / eps))
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("h_row"),
                F.pmod(F.xxhash64(F.col(col), F.lit(seed * 31 + i)), F.lit(width))
                .alias("bucket"),
            )
            for i in range(depth)
        ]
    )
    probes = keys.select(F.col(col), F.explode(pairs).alias("h")).select(
        col, F.col("h.h_row").alias("h_row"), F.col("h.bucket").alias("bucket")
    )
    joined = probes.join(F.broadcast(sketch), ["h_row", "bucket"], "left").select(
        col, F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    return joined.groupBy(col).agg(F.min("cnt").alias("est"))


HH_SUPPORT = 0.0075  # heavy-hitter support threshold (fraction of rows)
HH_SAMPLE_PCT = 10  # candidate-generation hash-sample (% of rows)


@query(
    "q_cms_heavy_hitters",
    oracle=f"""
    WITH cand AS (
        SELECT DISTINCT user_id FROM events
        WHERE {o_md5_bucket("event_id")} % 100 < {HH_SAMPLE_PCT}
    )
    SELECT user_id, COUNT(*) AS n_events
    FROM events
    WHERE user_id IN (SELECT user_id FROM cand)
    GROUP BY user_id
    HAVING COUNT(*) >= ceil({HH_SUPPORT} * (SELECT COUNT(*) FROM events))
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (support ≥ HH_SUPPORT·N) via count-min sketch, made
    hash-checkable by the sketch-prune / exact-verify pattern (the same
    shape as the LSH dedup family):

    1. candidates — distinct keys of a HH_SAMPLE_PCT% portable-hash row
       sample (any true heavy hitter appears in the sample on this corpus;
       the oracle applies the identical candidate definition, so the match
       never rests on that probability);
    2. sketch prune — ``cms_build`` collapses the full corpus into a
       depth×width counts table (shuffle O(d·w) regardless of input size)
       and ``cms_estimate`` point-queries each candidate. CMS NEVER
       under-counts, so dropping candidates with est < T loses no true
       heavy hitter — the prune is output-invisible, which is exactly what
       lets a sketch sit inside an exactly-checked query;
    3. exact verify — recount ONLY the surviving candidates (broadcast
       semi-join) and keep those with exact count ≥ T.

    At 100 TB: one pass builds the sketch (tiny shuffle), one pass
    recounts a broadcast-pruned key set — no full-cardinality groupBy
    shuffle anywhere. T is relative (ceil of support·N, N from parquet
    footer metadata) so the same query is meaningful at every scale.
    """
    import math

    from ..sources.io import table_rows

    e = load_table(spark, sf_dir, "events")
    t_min = math.ceil(HH_SUPPORT * table_rows(sf_dir, "events"))
    bucket = md5_bucket(F.col("event_id")) % 100
    cand = e.filter(bucket < HH_SAMPLE_PCT).select("user_id").distinct()
    sketch = cms_build(e.select("user_id"), "user_id")
    pruned = (
        cms_estimate(sketch, cand, "user_id")
        .filter(F.col("est") >= t_min)
        .select("user_id")
    )
    return (
        e.join(F.broadcast(pruned), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") >= t_min)
    )
