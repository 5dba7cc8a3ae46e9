"""IVF coarse-quantizer training (operators/vectors.py:build_ivf_index).

Training runs on the driver (one Arrow collect, NumPy Lloyd passes) while
the final index assignment stays in Spark. The two assignment spellings —
NumPy first-argmax in `_ivf_lloyd`, `max_by` over (cdot, -cell) in
`build_ivf_index` — must keep one tie-break rule. The reference below is
the Spark Lloyd trainer the driver-side one replaced; parity against it
pins the trained model bit-for-bit up to float64 summation order."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
    clear_session_memos,
)
from aws_etl_microservice_redshift_datalake_spark.operators.vectors import (
    DIM,
    IVF_ITERS,
    _dot,
    _finite_vec,
    _ivf_lloyd,
    build_ivf_index,
)
from aws_etl_microservice_redshift_datalake_spark.sources.io import (
    load_table,
    table_rows,
)

from tests.conftest import SF_BENCH, SF_MED, SF_SMALL


def _reference_train(spark, sf_dir: str) -> dict[int, np.ndarray]:
    """The Spark Lloyd trainer: seeds are the first C conforming vectors by
    xxhash64(t_id); each pass assigns by max_by over (cdot, -cell), averages
    the 64 columns per cell and L2-normalizes with a left-to-right HOF fold.
    Per-pass cache: each pass broadcasts the previous pass's centroids."""
    t = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("t_id"), F.col("embedding").alias("tv"))
        .filter(_finite_vec(F.col("tv")))
    )
    n_cells = max(4, min(4096, math.isqrt(table_rows(sf_dir, "embeddings"))))
    cents = (
        t.orderBy(F.xxhash64("t_id"))
        .limit(n_cells)
        .select(F.monotonically_increasing_id().alias("cell"), F.col("tv").alias("cv"))
        .cache()
    )
    scaffold = [cents]
    for _ in range(IVF_ITERS):
        assigned = (
            t.crossJoin(F.broadcast(cents))
            .select("t_id", "tv", "cell", _dot(F.col("tv"), F.col("cv")).alias("cdot"))
            .groupBy("t_id")
            .agg(
                F.max_by(
                    F.struct("cell", "tv"),
                    F.struct("cdot", (-F.col("cell")).alias("negcell")),
                ).alias("b")
            )
            .select("b.cell", "b.tv")
        )
        raw = assigned.groupBy("cell").agg(
            *[
                F.avg(F.try_element_at("tv", F.lit(i + 1)).cast("double")).alias(f"d{i}")
                for i in range(DIM)
            ]
        )
        m = F.array(*[F.col(f"d{i}") for i in range(DIM)])
        norm = F.sqrt(F.aggregate(m, F.lit(0.0), lambda a, v: a + v * v))
        cents = raw.select("cell", F.transform(m, lambda x: x / norm).alias("cv")).cache()
        scaffold.append(cents)
    out = {r.cell: np.array(r.cv) for r in cents.collect()}
    for d in scaffold:
        d.unpersist()
    return out


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MED, SF_BENCH])
def test_driver_trainer_matches_spark_reference(spark, sf_dir):
    """Same cell ids, centroids within 1e-12 absolute (float64 on unit
    vectors; only the summation order differs between the engines)."""
    want = _reference_train(spark, sf_dir)
    _index, cents = build_ivf_index(spark, sf_dir)
    got = {r.cell: np.array(r.cv) for r in cents.collect()}
    assert want, "reference trained an empty model"
    assert sorted(got) == sorted(want)
    worst = max(float(np.max(np.abs(got[k] - want[k]))) for k in want)
    assert worst <= 1e-12, f"centroid drift {worst:.3g} at {sf_dir}"


def test_lloyd_drops_zero_norm_cells():
    """A cell whose members sum to the zero vector has no direction: it is
    dropped, never normalized into NaN (argmax ranks NaN first, so one NaN
    centroid would capture every vector on the next pass)."""
    e1 = np.eye(DIM)[0]
    zero = np.zeros(DIM)
    x = np.stack([zero, e1, zero, e1])
    with np.errstate(all="raise"):
        cells, c = _ivf_lloyd(x, 2)
    assert cells.tolist() == [1]
    np.testing.assert_array_equal(c, [e1])


def test_lloyd_empty_sample_trains_empty_model():
    with np.errstate(all="raise"):
        cells, c = _ivf_lloyd(np.zeros((0, DIM)), 4)
    assert cells.shape == (0,)
    assert c.shape == (0, DIM)


def test_cold_ivf_build_job_count(spark):
    """A cold build_ivf_index at sf0.01 plus one noop read of its index
    runs at most 6 Spark jobs (the per-pass Spark trainer's build alone ran
    23; the memoized model and index, 11 + 1)."""
    clear_session_memos(spark)
    sc = spark.sparkContext
    group = "test-ivf-cold-build"
    sc.setJobGroup(group, "cold build_ivf_index")
    try:
        index, _cents = build_ivf_index(spark, SF_MED)
        index.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 6, f"cold IVF build + index read ran {len(jobs)} Spark jobs"
