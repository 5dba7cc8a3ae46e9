"""Structured Streaming operators — SURVEY.md §2.1 S9/S10, §2.9 T1-T9.

Reference parity: the streaming half of a lake/warehouse ETL service
(public Kinesis→Redshift / Spark Structured Streaming semantics;
/root/reference is empty — SURVEY.md §0).

Every operator here is REAL Structured Streaming — ``readStream`` file
source, event-time watermarks, streaming state stores, ``availableNow``
trigger — not a batch query dressed up. The driver can still hash-check
them because each query runs the stream to completion over the static
events table and returns the sink contents; SURVEY.md §2.9's batch-first
discipline then gives each one a DuckDB oracle:

- complete-mode aggregations equal their batch twin exactly (T1/T2/T6);
- append-mode operators emit exactly the rows whose event-time window /
  session closed before the final watermark (max event ts - delay), a
  condition the oracle states explicitly (T3/T4);
- stream-stream joins and streaming dedup over a finite stream equal
  their batch joins/DISTINCT (T5/T7);
- arbitrary stateful processing (T8) emits per-key final state = the
  batch per-key aggregate.

Timestamp discipline: events.ts is parquet TIMESTAMP(NANOS); Spark 4.1
reads it natively as TimestampNTZType, truncating to µs, while DuckDB
keeps ns. Oracles therefore truncate to µs (grouping/join arithmetic) or
seconds (hashed outputs) — SURVEY.md §5.3/§7.4.

Every query builds and runs on ``stream_session(spark)``, a sibling
session: the caller's conf and catalog are never written, so there is
nothing to restore and concurrent queries cannot see each other's state.

Scale notes (100 TB):
- The file source is incremental: on a cluster the same code tails an
  S3 prefix; ``maxFilesPerTrigger`` bounds per-batch volume.
- Watermarks bound state: windowed/session state older than the
  watermark is evicted from the state store — without them, T3/T7/T8
  state grows with the stream. Every stateful query here carries one.
- The memory sink is the test/driver harness only; `stream_to_parquet`
  (S10) is the production sink path (checkpointed, exactly-once file
  sink), and `foreachBatch` covers upsert/JDBC fan-out.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..registry import MONEY_MAX as _MONEY_MAX
from ..registry import money_col, o_money_col, query, rnd
from ..scratch import process_scratch
from ..session import sibling
from ..sources.io import load_table, normalize_epoch_ts

# events.parquet is TIMESTAMP(NANOS) with isAdjustedToUTC=false: Spark 4.1's
# vectorized reader converts it natively to TimestampNTZType (µs-truncated),
# in batch AND streaming alike — verified empirically; the legacy
# ``nanosAsLong`` conf is a no-op here. Declaring ts as NTZ keeps the stream
# read on the native (correct-scale) path; declaring LongType instead would
# surface *µs* longs, and any manual ns→µs division then compresses 30 days
# of events into 43 minutes (the round-2 T1-T8 wrong-answer bug).
RAW_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _source_dir(sf_dir: str) -> str:
    """The file stream source requires a *directory*; stage a symlink to the
    (read-only) events parquet in repo-local scratch. One file → availableNow
    processes the whole table in a single micro-batch, so no event can be
    late relative to an earlier batch's watermark (initial watermark is 0).

    When events.parquet is itself a DIRECTORY of part files (every
    Spark-written table is — the 100 TB shape; the driver's single-file
    testdata is the special case), return it directly: the file source does
    NOT recurse through a nested events.parquet/ subdirectory, so the old
    symlink staging silently streamed ZERO rows from directory-shaped
    corpora (r7 degraded-twin gate find — the rows-only sweeps had
    false-greened it, `len(rows) >= 0` passes on empty)."""
    src = f"{sf_dir}/events.parquet"
    if os.path.isdir(src):
        return src
    tag = sf_dir.strip("/").replace("/", "-")
    d = f"{process_scratch()}/stream-src-{tag}"
    os.makedirs(d, exist_ok=True)
    link = f"{d}/events.parquet"
    # lexists, not exists: a broken symlink (events.parquet regenerated/moved)
    # reports exists()==False but still makes os.symlink raise FileExistsError
    if os.path.lexists(link):
        os.unlink(link)
    os.symlink(src, link)
    return d


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: the events table as a Structured Streaming source with µs
    event-time ``ts`` (TimestampNTZType — the native read path; see
    RAW_EVENTS_SCHEMA for why no manual scale conversion happens here).

    Scale-defensive like the batch twin ``sources.io.load_table``: if a
    different Spark build DID surface ts as a long (ns or µs), the magnitude
    gate in ``normalize_epoch_ts`` converts it correctly either way."""
    raw = spark.readStream.schema(RAW_EVENTS_SCHEMA).parquet(_source_dir(sf_dir))
    if isinstance(raw.schema["ts"].dataType, T.LongType):  # pragma: no cover
        raw = raw.withColumn("ts", normalize_epoch_ts("ts"))
    return raw


def stream_session(spark: SparkSession) -> SparkSession:
    """The ``session.sibling`` a stream query builds and runs on. UTC, so
    ``stream_events_watermarkable`` keeps the wall clock whatever the
    caller's tz. Shuffle partitions clamped to the core count: stateful
    streaming locks that count into the state store at start(), and a
    default-conf session (200) would pay 200 state-store dirs and task
    launches per stateful operator for a corpus that fits in a handful (on
    a cluster, defaultParallelism is the executor core total)."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_state = max(1, min(parts, spark.sparkContext.defaultParallelism))
    return sibling(spark, {"spark.sql.session.timeZone": "UTC",
                           "spark.sql.shuffle.partitions": str(n_state)})


def stream_events_watermarkable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 (watermark variant): events with ``ts`` as TimestampType.

    ``withWatermark`` rejects TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP
    _TYPE), so watermark-carrying queries cast NTZ → instant under the UTC
    timezone of ``stream_session``, which ``spark`` must be: same wall
    clock, deterministic regardless of the tz of the session the query was
    called with. Timestamp *outputs* of such queries cast back with ``.cast("timestamp_ntz")``
    inside the stream graph, so the sink holds tz-independent values that
    render the same wall clock as the batch twins and the DuckDB oracle."""
    s = stream_events(spark, sf_dir)
    if isinstance(s.schema["ts"].dataType, T.TimestampNTZType):
        s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    return s


def _run_to_end(writer, timeout_s: int = 300) -> None:
    """Start ``writer`` with ``trigger(availableNow=True)`` and wait for the
    stream to drain; the query is stopped however the wait ends.
    awaitTermination returns False on timeout — raise TimeoutError instead
    of leaving a partly-filled sink that looks complete."""
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(
                f"stream {q.name or q.id} did not finish in {timeout_s}s"
            )
    finally:
        q.stop()


def run_stream(sdf: DataFrame, output_mode: str, timeout_s: int = 300) -> DataFrame:
    """S10 (harness half): run a streaming DataFrame to completion with
    ``trigger(availableNow=True)`` into a memory sink; return the sink
    contents as a batch DataFrame. Checkpointed like any production query.

    The sink's view is dropped once its rows are bound to the returned
    DataFrame, so the session's catalog ends as it started and the rows
    live only as long as the result does."""
    spark = sdf.sparkSession
    name = "s" + uuid.uuid4().hex[:12]
    ckpt = f"{process_scratch()}/ckpt-{name}"
    try:
        _run_to_end(
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt),
            timeout_s,
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def stream_to_parquet(
    sdf: DataFrame, path: str, checkpoint: str, partition_cols: list[str] | None = None
) -> None:
    """S10 (production half): exactly-once checkpointed Parquet file sink —
    the streaming UNLOAD analog. Append-mode only, like the real thing."""
    w = (
        sdf.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    _run_to_end(w)


def stream_foreach_batch(sdf: DataFrame, fn, checkpoint: str) -> None:
    """S10 (upsert half): ``foreachBatch`` — the micro-batch escape hatch for
    idempotent MERGE/JDBC sinks (batch_id makes retries idempotent)."""
    _run_to_end(
        sdf.writeStream.foreachBatch(fn).option("checkpointLocation", checkpoint)
    )


# --------------------------------------------------------------------------
# T1/T2 — tumbling & sliding event-time windows (complete mode == batch twin)
# --------------------------------------------------------------------------


@query(
    "q_stream_tumbling",
    oracle=f"""
    SELECT CAST(time_bucket(INTERVAL '10 minutes', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM({o_money_col("value")}), 2) AS sum_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: streaming tumbling 10-minute windows per event type, complete
    mode — over a finite stream this equals the batch twin
    (operators/events.q_tumbling_window) row for row. NULL-ts rows are
    excluded by the same explicit pre-filter as the batch twin (r8 NULL
    event-time contract): window() emits no group for them anyway, the
    oracle's time_bucket(NULL) would form a NULL group."""
    spark = stream_session(spark)
    agg = (
        stream_events(spark, sf_dir)
        .filter(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), rnd(F.sum(money_col(F.col("value")))).alias("sum_value"))
    )
    out = run_stream(agg, "complete")
    return out.select(
        F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value"
    )


@query(
    "q_stream_sliding",
    oracle=f"""
    WITH exploded AS (
        SELECT unnest([
                 CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP),
                 CAST(time_bucket(INTERVAL '5 minutes', ts) AS TIMESTAMP) - INTERVAL 5 MINUTE
               ]) AS window_start,
               value
        FROM events
        WHERE ts IS NOT NULL
    )
    SELECT window_start, COUNT(*) AS n_events, ROUND(SUM({o_money_col("value")}), 2) AS sum_value
    FROM exploded
    GROUP BY window_start
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: streaming sliding windows (10 min length, 5 min slide), complete
    mode; each event lands in exactly two windows. NULL-ts rows are
    excluded in both twins (the r8 NULL event-time contract)."""
    spark = stream_session(spark)
    agg = (
        stream_events(spark, sf_dir)
        .filter(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), rnd(F.sum(money_col(F.col("value")))).alias("sum_value"))
    )
    out = run_stream(agg, "complete")
    return out.select(F.col("w.start").alias("window_start"), "n_events", "sum_value")


# --------------------------------------------------------------------------
# T3 — session windows (append mode: emitted sessions are watermark-closed)
# --------------------------------------------------------------------------


@query(
    "q_stream_session",
    oracle=f"""
    WITH e AS (
        SELECT user_id, value, date_trunc('microseconds', ts) AS ts
        FROM events
        WHERE ts IS NOT NULL
    ), seq AS (
        SELECT user_id, value, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         < INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS new_session
        FROM e
    ), tagged AS (
        SELECT user_id, value, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM seq
    )
    SELECT user_id,
           CAST(date_trunc('second', MIN(ts)) AS TIMESTAMP) AS session_start,
           COUNT(*) AS n_events,
           ROUND(SUM({o_money_col("value")}), 2) AS session_value
    FROM tagged
    GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 30 MINUTE <= (SELECT date_trunc('microseconds', MAX(ts)) FROM events)
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: native ``session_window`` (30-minute gap) streaming aggregation.

    Append mode + zero-delay watermark: a session is emitted once the
    watermark (= max event ts after the final batch) passes its end
    (last event + gap). The oracle sessionizes with the classic
    lag-gap-cumsum idiom — a new session starts when the gap is >= the
    30-minute gap duration, matching Spark's merge rule (an event merges
    only while strictly inside the open session window) — and keeps
    exactly the watermark-closed sessions via the HAVING clause.

    NULL-ts rows are excluded in both twins (the r8 NULL event-time
    contract, extended here by the composed-corpus twin gate:
    session_window silently drops a NULL instant while the oracle's
    lag-gap sessionizer formed a session from it — 689 vs 691 sessions
    measured).
    """
    spark = stream_session(spark)
    s = (
        stream_events_watermarkable(spark, sf_dir)
        .filter(F.col("ts").isNotNull())
        .withWatermark("ts", "0 seconds")
    )
    agg = (
        s.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum(money_col(F.col("value")))).alias("session_value"),
        )
        # NTZ cast in-stream (pinned-UTC execution tz) — see q_stream_watermark
        .select(
            "user_id",
            F.date_trunc("second", F.col("w.start"))
            .cast("timestamp_ntz")
            .alias("session_start"),
            "n_events",
            "session_value",
        )
    )
    return run_stream(agg, "append")


# --------------------------------------------------------------------------
# T4 — watermark semantics (append mode drops/holds unfinalized windows)
# --------------------------------------------------------------------------


@query(
    "q_stream_watermark",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '10 minutes', ts) AS TIMESTAMP) AS window_start,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1
    HAVING CAST(time_bucket(INTERVAL '10 minutes', ts) AS TIMESTAMP) + INTERVAL 10 MINUTE
           <= (SELECT date_trunc('microseconds', MAX(ts)) - INTERVAL 1 HOUR FROM events)
    """,
)
def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: tumbling windows under a 1-hour watermark, append mode — only
    windows whose end precedes the final watermark (max ts - 1h) are
    finalized and emitted; the trailing hour of windows is withheld as
    open state. The oracle's HAVING clause states that bound exactly."""
    spark = stream_session(spark)
    agg = (
        stream_events_watermarkable(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        # NTZ cast INSIDE the stream (under the stream session's UTC): the
        # sink holds only tz-independent values, whatever session reads it
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
        )
    )
    return run_stream(agg, "append")


# --------------------------------------------------------------------------
# T5 — streaming dedup within watermark
# --------------------------------------------------------------------------


@query(
    "q_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: ``dropDuplicatesWithinWatermark`` on (user_id, event_type) —
    exact streaming dedup with watermark-bounded state (the streaming twin
    of operators/dedup). Only the keys are returned: 'first occurrence'
    payloads depend on arrival order, keys do not."""
    spark = stream_session(spark)
    dd = (
        stream_events_watermarkable(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_stream(dd, "append")


# --------------------------------------------------------------------------
# T6 — stream-static join (dimension enrichment)
# --------------------------------------------------------------------------


@query(
    "q_stream_static_join",
    oracle=f"""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_events,
           ROUND(SUM({o_money_col("e.value")}), 2) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: stream-static join — events enriched with the (broadcast) customer
    → nation dimension chain, aggregated per nation in complete mode. The
    static side is re-planned per micro-batch, so dim updates are picked up
    between batches on a live cluster."""
    spark = stream_session(spark)
    dim = (
        load_table(spark, sf_dir, "customer")
        .join(load_table(spark, sf_dir, "nation"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation"))
    )
    joined = stream_events(spark, sf_dir).join(F.broadcast(dim), "user_id")
    agg = joined.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_events"), rnd(F.sum(money_col(F.col("value")))).alias("sum_value")
    )
    return run_stream(agg, "complete")


# --------------------------------------------------------------------------
# T7 — stream-stream join (time-bounded self join)
# --------------------------------------------------------------------------


@query(
    "q_stream_stream_join",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type, date_trunc('microseconds', ts) AS ts
               FROM events)
    SELECT a.event_id AS click_id, b.event_id AS purchase_id
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: stream-stream inner join — clicks joined to purchases by the same
    user within the following 10 minutes. Both sides carry watermarks and the
    join condition is time-bounded, so the state store evicts rows once they
    can no longer match (the 100 TB-safe shape); over the finite stream the
    result equals the batch time-bounded self-join."""
    spark = stream_session(spark)
    clicks = (
        stream_events_watermarkable(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("a_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("a_ts"),
        )
        .withWatermark("a_ts", "1 hour")
    )
    purchases = (
        stream_events_watermarkable(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("b_ts"),
        )
        .withWatermark("b_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select("click_id", "purchase_id")
    return run_stream(joined, "append")


# --------------------------------------------------------------------------
# T8 — arbitrary stateful processing (applyInPandasWithState)
# --------------------------------------------------------------------------

_T8_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("max_gap_s", T.LongType()),
    ]
)
_T8_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("last_s", T.LongType()),
        T.StructField("max_gap", T.LongType()),
    ]
)


def _t8_fn(key, pdf_iter, state: GroupState):
    """Per-user running state machine: event count, value sum, and the
    maximum whole-second gap between consecutive events. State persists
    across micro-batches in the state store; with NoTimeout the final
    per-key emission over a finite stream is the per-key total."""
    n, s, last_s, max_gap = state.get if state.exists else (0, 0.0, None, 0)
    secs = []
    for pdf in pdf_iter:
        n += len(pdf)
        # non-CONFORMING measurements are MISSING by contract — the same
        # MONEY_MAX bound every money aggregate carries, not merely
        # isfinite (r8 mixed twin gate find): a FINITE-absurd ±1e308
        # sentinel passes isfinite, then absorbs every real value and
        # cancels order-dependently against its opposite (one group
        # measured 751.52 in arrival order vs 0.0 in scan order), and two
        # same-sign sentinels overflow the sum to ±Inf — agreeing garbage.
        # The bound also subsumes the r7 non-finite class: Arrow erases
        # the SQL NULL/NaN distinction on the way in, and |NaN/±Inf| is
        # never <= MONEY_MAX, so they skip identically in both twins.
        v = pdf["value"]
        s += float(v[np.abs(v) <= _MONEY_MAX].sum())
        # Arrow may hand us datetime64[us] or [ns] — normalize before flooring
        ts_ns = pdf["ts"].astype("datetime64[ns]").astype("int64")
        secs.append(ts_ns // 1_000_000_000)
    if secs:
        allsecs = pd.concat(secs).sort_values()
        if last_s is not None and allsecs.iloc[0] - last_s > max_gap:
            max_gap = int(allsecs.iloc[0] - last_s)
        gaps = allsecs.diff().dropna()
        if len(gaps) and int(gaps.max()) > max_gap:
            max_gap = int(gaps.max())
        last_s = int(allsecs.iloc[-1])
    state.update((n, s, last_s, max_gap))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value": [round(s, 2)],
            "max_gap_s": [max_gap],
        }
    )


@query(
    "q_stream_stateful",
    # sum_value's CASE/COALESCE is the oracle twin of the pandas kernel's
    # missing-value semantics (r7 degraded-twin gate + review; tightened to
    # the MONEY_MAX conformance bound by the r8 mixed gate): Arrow hands
    # the kernel BOTH SQL NULL and NaN as np.nan, ±Inf would turn the
    # running sum into NaN (inf + -inf) that pyarrow renders back as SQL
    # NULL while SQL SUM renders it NaN — and a FINITE-absurd ±1e308
    # sentinel passes any isfinite test, then absorbs/cancels real values
    # fold-order-dependently (measured 751.52 vs 0.0 on the composed
    # corpus). So the contract is "non-CONFORMING measurements are
    # missing" (the engine-wide money bound), an all-missing user sums to
    # 0.0 (the kernel's initial state), and the sum is always finite and
    # order-stable in both engines. Identical on any corpus with
    # conforming values.
    oracle=f"""
    WITH e AS (
        SELECT user_id, value, epoch(date_trunc('second', ts))::BIGINT AS ts_s
        FROM events
        WHERE ts IS NOT NULL
    ), gaps AS (
        SELECT user_id, value, ts_s,
               ts_s - LAG(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s) AS gap
        FROM e
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           COALESCE(ROUND(SUM({o_money_col("value")}), 2),
                    0.0) AS sum_value,
           COALESCE(MAX(gap), 0) AS max_gap_s
    FROM gaps
    GROUP BY user_id
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: arbitrary stateful streaming via ``applyInPandasWithState`` — a
    per-user state machine tracking count / sum / max inter-event gap,
    Arrow-batched (U2-class performance, not row-at-a-time). Over the finite
    stream the last emission per key equals the batch per-user aggregate;
    dedup to the final state per user below covers the multi-batch case.
    Non-finite (NULL/NaN/±Inf) measurements are missing by contract (see
    the oracle note — Arrow erases the SQL NULL-vs-NaN distinction before
    the kernel runs, and infinities would de-finite the running sum).
    NULL-ts rows are excluded in both twins (the r8 NULL event-time
    contract): a gap against a NULL instant is undefined, and the Arrow
    boundary would otherwise hand the kernel a NaT the SQL twin groups."""
    spark = stream_session(spark)
    out = (
        stream_events(spark, sf_dir)
        .filter(F.col("ts").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            _t8_fn, _T8_OUT, _T8_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )
    res = run_stream(out, "append")
    # one emission per key per micro-batch → keep the final (max n_events) row
    return res.groupBy("user_id").agg(
        F.max_by("n_events", "n_events").alias("n_events"),
        F.max_by("sum_value", "n_events").alias("sum_value"),
        F.max_by("max_gap_s", "n_events").alias("max_gap_s"),
    )
