"""UDF / UDAF / UDTF surface — SURVEY.md §2.8 U1-U4.

Reference parity: Redshift's Python-UDF surface (public semantics;
/root/reference is empty — SURVEY.md §0), re-expressed in Spark's three
Python extension points.

Scale notes (100 TB): the performance ladder is explicit here —
- U1 row UDF: per-row Python round-trips; correctness escape hatch ONLY.
- U2/U3 pandas UDF / applyInPandas: Arrow-batched, 10-100× U1; the sanctioned
  path for custom numeric kernels.
- U4 UDTF: Python table function for 1→N expansion.
Each query's kernel is deterministic, so even the Python paths carry exact
SQL oracles — the oracle is the semantic spec the UDF must reproduce.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import query
from ..session import sibling
from ..sources.io import load_table
from .vectors import VEC_ABS_MAX

# Finite-absurd element exclusion for the pandas twins (r9, ADVICE r8 #2).
# U2/U3 DELIBERATELY keep the r7 NaN/±Inf → NULL rendering mirror (the
# Arrow NaN-profile behavior is the point of the demo), so they cannot take
# the full _finite_vec contract — but a finite-absurd float32 element
# (±3.4e38 passes every NULL/NaN/Inf check) makes numpy's pairwise/BLAS
# fold diverge from DuckDB's sequential fold when a ± pair cancels (the
# MONEY_MAX class), and a single one yields an agreeing-garbage ±1e37 dot.
# Excluded in both twins: an element that IS present, IS NOT NaN/±Inf, and
# exceeds VEC_ABS_MAX in magnitude.
_INF = float("inf")


def _has_finite_absurd(vcol):
    return F.exists(
        vcol,
        lambda x: x.isNotNull()
        & ~F.isnan(x)
        & (F.abs(x) != _INF)
        & (F.abs(x) > VEC_ABS_MAX),
    )


_O_NO_FINITE_ABSURD = (
    "len(list_filter(embedding, x -> x IS NOT NULL AND NOT isnan(x)"
    # !r, not :.1f — keeps the interpolated bound exact if VEC_ABS_MAX is
    # ever tuned off the one-decimal grid (ADVICE r9); identical text today.
    f" AND NOT isinf(x) AND abs(x) > {VEC_ABS_MAX!r})) = 0"
)


def _digitsum_oracle_expr(col: str, digits: int = 19) -> str:
    """Digit-sum as pure integer arithmetic (DuckDB lacks a digit fold).
    19 terms cover the magnitude of every int64 above INT64_MIN (max
    9223372036854775807 has 19 digits) — the original 8-term spelling was
    exact on the driver corpus but silently truncated snowflake-scale ids
    (r7 bigkey axis-gate probe: spark=true digit sum vs duck=low-8-digits
    sum). High terms are 0 on small keys, so clean-corpus output is
    unchanged. Both twins fold abs(key) so negative ids digit-sum their
    magnitude identically (ADVICE r7: the Python twin raised on the '-'
    character while the // arithmetic produced floor-division garbage);
    INT64_MIN itself is outside the contract — abs() overflows int64 in
    both engines."""
    return " + ".join(f"((abs({col}) // {10 ** i}) % 10)" for i in range(digits))


@query(
    "q_udf_digitsum",
    oracle=f"""
    SELECT o_orderkey,
           CAST({_digitsum_oracle_expr("o_orderkey")} AS INTEGER) AS digit_sum
    FROM orders
    """,
)
def q_udf_digitsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: row-at-a-time Python scalar UDF (digit sum of the order key's
    magnitude — abs in both twins, see _digitsum_oracle_expr).
    Deliberately trivial — the point is the extension surface; anything hot
    belongs in U2's Arrow path."""

    @F.udf(returnType=T.IntegerType())
    def digit_sum(x: int) -> int:
        if x is None:
            return None
        return sum(int(c) for c in str(abs(x)))

    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", digit_sum("o_orderkey").alias("digit_sum"))


def _basis_weight(i: int) -> float:
    return ((i % 3) - 1) / 8.0


_BASIS = [_basis_weight(i) for i in range(64)]


@query(
    "q_pandas_udf_dot",
    # isnan -> NULL mirror (r7 review, caught by the Arrow NaN-profile
    # gate): a NaN element makes the kernel's dot NaN, which pyarrow's
    # from_pandas renders as SQL NULL on the way out of the UDF, while
    # list_inner_product renders the same product NaN — so the declared
    # contract is "a NaN-poisoned product is missing (NULL)" in both twins.
    # Finite-absurd elements are excluded instead (r9 — no mirror can make
    # numpy's and DuckDB's fold orders agree once a ±3e38 pair cancels;
    # see _has_finite_absurd). Identical on corpora with well-formed
    # embeddings (the driver's case).
    oracle=f"""
    WITH d AS (
        SELECT vec_id,
               list_inner_product(embedding::DOUBLE[],
                                  {_BASIS!r}::DOUBLE[]) AS dot
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = 64
          AND len(list_filter(embedding, x -> x IS NULL)) = 0
          AND {_O_NO_FINITE_ABSURD}
    )
    SELECT vec_id,
           CASE WHEN NOT isnan(dot) THEN ROUND(dot, 6) END AS basis_dot
    FROM d
    """,
)
def q_pandas_udf_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: vectorized (Arrow) pandas UDF — dot product of each embedding with
    a fixed deterministic basis vector, computed with numpy over whole
    batches. The 10-100×-faster sanctioned shape for custom numeric kernels.
    NULL and off-dimension embeddings drop JVM-side before Arrow ships the
    batch: np.stack crashes on a 0-d None array AND on ragged/empty arrays
    (truncated 63-dim or [] rows — the same degraded-lake class, r6 review),
    so the guard is isNotNull AND size == 64 AND no NULL elements (r8:
    numpy silently converts a None element to NaN inside the kernel where
    DuckDB's list_inner_product THROWS — element-NULL rows are excluded by
    contract in both twins; NaN/±Inf elements keep the r7 NaN→NULL
    mirror; finite-absurd elements are excluded — r9, see
    _has_finite_absurd), mirrored in the oracle."""
    basis = np.array(_BASIS, dtype=np.float64)

    @F.pandas_udf(T.DoubleType())
    def basis_dot(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        return pd.Series(np.round(mat @ basis, 6))

    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == 64)
        & ~F.exists("embedding", lambda x: x.isNull())
        & ~_has_finite_absurd(F.col("embedding"))
    )
    return e.select("vec_id", basis_dot("embedding").alias("basis_dot"))


@query(
    "q_pandas_udaf_centroid",
    # isnan -> NULL mirror (r7 review, caught by the Arrow NaN-profile
    # gate): one NaN element in any group member makes the kernel's numpy
    # mean NaN for that dimension, which pyarrow renders as SQL NULL, while
    # AVG renders it NaN — "a NaN-poisoned centroid dimension is missing
    # (NULL)" in both twins. Identical on finite corpora (the driver's
    # case).
    oracle=f"""
    WITH a AS (
        SELECT label,
               COUNT(*) AS n,
               AVG(embedding[1]::DOUBLE) AS a1,
               AVG(embedding[2]::DOUBLE) AS a2,
               AVG(embedding[3]::DOUBLE) AS a3
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = 64
          AND len(list_filter(embedding, x -> x IS NULL)) = 0
          AND {_O_NO_FINITE_ABSURD}
        GROUP BY label
    )
    SELECT label, n,
           CASE WHEN NOT isnan(a1) THEN ROUND(a1, 6) END AS c1,
           CASE WHEN NOT isnan(a2) THEN ROUND(a2, 6) END AS c2,
           CASE WHEN NOT isnan(a3) THEN ROUND(a3, 6) END AS c3
    FROM a
    """,
)
def q_pandas_udaf_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: grouped custom aggregate via applyInPandas — per-label centroid
    (first three dimensions). Each label group arrives as one pandas frame;
    at scale this shuffles on the group key exactly like a built-in agg.
    NULL and off-dimension embeddings are dropped JVM-side before Arrow
    ships the group (the multimodal drop-null rule): np.stack crashes on a
    0-d None array (r6 degraded-embeddings sweep) and on ragged/empty
    arrays (r6 review), so the guard is isNotNull AND size == 64 AND no
    NULL elements (r8: numpy converts a None element to NaN, poisoning the
    whole group mean, where DuckDB's AVG skips only the NULL row for that
    dimension — element-NULL rows are excluded by contract in both twins;
    NaN/±Inf elements keep the r7 NaN→NULL mirror; finite-absurd elements
    are excluded — r9, numpy's pairwise mean vs DuckDB's sequential AVG
    diverge once a ±3e38 pair cancels, see _has_finite_absurd), mirrored
    in the oracle twin."""

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        c = mat.mean(axis=0)
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n": [len(pdf)],
                "c1": [round(c[0], 6)],
                "c2": [round(c[1], 6)],
                "c3": [round(c[2], 6)],
            }
        )

    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == 64)
        & ~F.exists("embedding", lambda x: x.isNull())
        & ~_has_finite_absurd(F.col("embedding"))
    )
    return e.groupBy("label").applyInPandas(
        centroid, schema="label int, n long, c1 double, c2 double, c3 double"
    )


@query(
    "q_udtf_bigrams",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
               WHERE doc_id < 20)
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM t WHERE len(toks) >= 2
    """,
)
def q_udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: Python UDTF (Spark 4.x) — a table function expanding each document
    into its bigrams (1→N), applied via LATERAL join in SQL."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="bigram: string")
    class BigramUDTF:
        def eval(self, text: str):
            if not text:  # null/empty document: no bigrams, not a crash
                return
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                yield (toks[i] + " " + toks[i + 1],)

    # the UDTF and the view live on a sibling: the caller's catalog is untouched
    s = sibling(spark)
    s.udtf.register("bigram_udtf", BigramUDTF)
    load_table(s, sf_dir, "documents").createOrReplaceTempView("documents")
    return s.sql(
        """
        SELECT d.doc_id, b.bigram
        FROM documents d, LATERAL bigram_udtf(d.text) b
        WHERE d.doc_id < 20
        """
    )
