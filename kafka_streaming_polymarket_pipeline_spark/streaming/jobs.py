"""Structured Streaming jobs: the reference's standing dataflows as
declarative streaming plans (SURVEY §2.8 T1–T9).

The reference runs 6 long-lived processes wired by Kafka; here each path is
a streaming DataFrame built from the same silver transforms used in batch
(silver.py functions are pure column ops, so they apply to streaming inputs
unchanged). Kafka is the production source (sources/kafka.py); tests use a
file-based bronze stream of the identical envelope shape, exercising the
same plans deterministically with availableNow triggers.

Scale notes: every aggregation here is a keyed event-time window — state is
bounded by watermark, partitioned by (key, window), and shuffles once; the
dimension join is stream-static broadcast (no shuffle of the stream side).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streaming_polymarket_pipeline_spark import schemas


def file_bronze_stream(spark: SparkSession, path: str, max_files: int | None = None) -> DataFrame:
    """Bronze envelope stream from a directory of JSONL files.

    Test-harness stand-in for the Kafka source (sources/kafka.py) with the
    identical schemas.BRONZE shape — every downstream plan is source-agnostic.
    ``maxFilesPerTrigger`` maps to the Kafka ``maxOffsetsPerTrigger``
    backpressure knob (SURVEY §4). Each trigger's ``getBatch`` indexes the
    batch's file paths; a ``session.get_spark`` session lists them on the
    driver (``session._LOCAL_LISTING_THRESHOLD``).
    """
    reader = spark.readStream.schema(schemas.BRONZE)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.json(path)


# --- T3/A7: 1 s latest-value-wins downsample (coinbase_producer.py:43-48) ---

def downsample_last(
    prices: DataFrame,
    ts_col: str = "price_timestamp",
    every: str = "1 second",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Latest ticker per (ticker, window): the producer's throttle re-expressed
    as an event-time window agg. ``max_by(struct, ts)`` keeps the *last* value
    in the window (not an average) — exactly the reference's latest-wins dict.
    """
    return (
        prices.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, every).alias("w"), "ticker")
        .agg(
            F.max_by(F.col("price"), F.col(ts_col)).alias("price"),
            F.max_by(F.col("volume_24h"), F.col(ts_col)).alias("volume_24h"),
            F.max(ts_col).alias("price_timestamp"),
        )
        .select("w.start", "w.end", "ticker", "price", "volume_24h", "price_timestamp")
    )


# --- T1: 15-minute market-cadence OHLC candles (market_discovery.py:114-137) ---

def ohlc_candles(
    prices: DataFrame,
    ts_col: str = "price_timestamp",
    every: str = "15 minutes",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling event-time OHLC: the flagship candle computed incrementally.

    min_by/max_by give true open/close by event time; all four aggregates
    fold map-side before the single (ticker, window) shuffle.
    """
    return (
        prices.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, every).alias("w"), "ticker")
        .agg(
            F.min_by("price", ts_col).alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", ts_col).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "ticker", "open", "high", "low", "close", "n_ticks",
            (F.col("close") > F.col("open")).alias("went_up"),
        )
    )


# --- J1 streaming form: stream-static broadcast enrichment ---

def enrich_stream(events: DataFrame, token_dim: DataFrame, how: str = "inner") -> DataFrame:
    """Stream-static join: each micro-batch probes the broadcast token→outcome
    dimension (polymarket_ws_manager.py:279-282 dict probe). Inner join drops
    unmapped asset_ids — the reference's miss-drop semantics (P8)."""
    return events.join(F.broadcast(token_dim), "asset_id", how)


# --- T4: per-market session lifecycle, declaratively ---

def market_sessions(
    events: DataFrame,
    markets_dim: DataFrame,
    ts_col: str = "snapshot_time",
    value_col: str = "balance",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per-market session aggregates bounded by the market's [start, end).

    The reference runs a daemon thread per market that is born on a
    market-updates message and dies at end_time (user_positions_tracker.py:
    234-248, market_resolution.py:103-110). Declaratively that lifecycle is
    just: events interval-joined to the market dimension, grouped by the
    market's own 15-minute event-time window — no threads, no globals, and
    state expires via the watermark instead of a timer thread.
    """
    dim = F.broadcast(markets_dim.select("market_id", "start_time", "end_time"))
    ev = events.withWatermark(ts_col, watermark)
    j = ev.join(
        dim,
        (ev["market_id"] == dim["market_id"])
        & (ev[ts_col] >= dim["start_time"])
        & (ev[ts_col] < dim["end_time"]),
    ).drop(dim["market_id"])
    return (
        j.groupBy("market_id", F.window(ts_col, "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("first_event"),
            F.max(ts_col).alias("last_event"),
            F.sum(value_col).alias(f"total_{value_col}"),
        )
        .select(
            "market_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events", "first_event", "last_event", f"total_{value_col}",
        )
    )


# --- J2 streaming form: stream-stream interval join ---

def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "symbol",
    left_ts: str = "price_timestamp",
    right_ts: str = "trade_timestamp",
    tolerance: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join: right-side events within [left_ts,
    left_ts + tolerance) of a matching-key left event.

    The reference correlates its streams procedurally (db_writer.py
    consumes multiple topics and matches rows after landing them in
    Postgres); Spark expresses the correlation as a first-class streaming
    join. Both sides carry watermarks and the join predicate bounds
    right_ts relative to left_ts, so the state store evicts rows once the
    watermark passes the bound — state is O(in-flight window), not
    O(stream history). The equi-key keeps it a hash join shuffled on the
    key; no cross-stream scan."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] < lw[left_ts] + F.expr(f"INTERVAL {tolerance}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[key])


# --- T8: error side-channel union ---

def error_side_channel(*error_streams: DataFrame) -> DataFrame:
    """Union heterogeneous error shapes into one diagnostics stream
    (service-errors topic pattern: coinbase_producer.py:60-76 et al.)."""
    out = error_streams[0]
    for df in error_streams[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


# --- A10/T4: stateful consecutive-error counter (user_positions_tracker.py:119-151) ---

_ALERT_SCHEMA = T.StructType(
    [
        T.StructField("market_id", T.StringType()),
        T.StructField("consecutive_errors", T.LongType()),
        T.StructField("alert", T.BooleanType()),
    ]
)
_STATE_SCHEMA = T.StructType([T.StructField("run", T.LongType())])

ERROR_THRESHOLD = 5  # user_positions_tracker.py:13


def _consecutive_errors_fn(key, pdf_iter: Iterable[pd.DataFrame], state):
    """Count consecutive failures per market; alert on every THRESHOLD-th,
    reset on success — the tracker's counter as keyed streaming state."""
    (market_id,) = key
    run = state.get[0] if state.exists else 0
    out = []
    for pdf in pdf_iter:
        # event order within the batch: by event timestamp
        for ok in pdf.sort_values("event_ts")["ok"]:
            if ok:
                run = 0
            else:
                run += 1
                if run % ERROR_THRESHOLD == 0:
                    out.append((market_id, run, True))
    state.update((run,))
    yield pd.DataFrame(out, columns=["market_id", "consecutive_errors", "alert"])


def consecutive_error_alerts(attempts: DataFrame) -> DataFrame:
    """attempts(market_id, event_ts, ok) -> alert rows at each 5th consecutive
    failure. Keyed state is one long per market — bounded, shuffle-partitioned.
    """
    return attempts.groupBy("market_id").applyInPandasWithState(
        _consecutive_errors_fn,
        outputStructType=_ALERT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


# --- a24 streaming form: keyed EWMA state (the applyInPandasWithState
# path the a24b/a24c docstrings promise) ---

_EWMA_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma_value", T.DoubleType()),
    ]
)
_EWMA_STATE_SCHEMA = T.StructType(
    [T.StructField("acc", T.DoubleType()), T.StructField("n", T.LongType())]
)


def _ewma_fn_factory(alpha: float):
    keep = 1.0 - alpha

    def fn(key, pdf_iter: Iterable[pd.DataFrame], state):
        (user_id,) = key
        acc, n = (state.get[0], state.get[1]) if state.exists else (None, 0)
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            for v in pdf["value"]:
                if v is None or v != v:  # NULL/NaN excluded, a24's contract
                    continue
                v = float(v)
                acc = v if acc is None else keep * acc + alpha * v
                n += 1
        state.update((acc, n))
        if n:
            yield pd.DataFrame(
                [(user_id, n, acc)], columns=["user_id", "n_events", "ewma_value"]
            )

    return fn


def stream_ewma(events: DataFrame, alpha: float = 0.25) -> DataFrame:
    """Streaming per-user EWMA — a24's fold as keyed streaming state.

    The batch forms are a24 (literal fold), a24b (telescoped closed
    form) and a24c (time-aware weights); the streaming form carries the
    affine composition's running value directly: state per user is ONE
    (acc, n) pair — the (a, b)-pair the a24b docstring derives — updated
    by folding each micro-batch's rows in (ts, event_id) order with
    literally ``acc*(1-alpha) + alpha*v``, the same IEEE expression the
    batch fold evaluates, so after any batch the emitted value is
    bit-identical to the batch fold over everything seen so far
    (asserted in tests/test_streaming.py). Update-mode emission: each
    batch re-emits the keys it touched with their running (n, ewma).

    ORDERING CONTRACT: rows are sorted by (ts, event_id) only WITHIN a
    micro-batch; across batches the fold consumes arrival order.  The
    bit-identical-to-batch claim therefore assumes the source delivers
    each user's events in (ts, event_id) order across batch boundaries
    (true for the replayed bronze files and Kafka per-partition order
    with time-ordered producers).  An out-of-order source needs a
    watermark-based reorder buffer upstream — an EWMA fold is not
    commutative, so a late event cannot be folded retroactively without
    replaying the key's tail.

    Sanctioned Python-side compute: custom sequential stateful
    operators are exactly what applyInPandasWithState is for (§2.9's
    documented exception class, like the consecutive-error counter) —
    the recurrence depends on the previous OUTPUT, so no watermarked
    window/agg expresses it."""
    return events.groupBy("user_id").applyInPandasWithState(
        _ewma_fn_factory(alpha),
        outputStructType=_EWMA_OUT_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# --- T6/A9: redelivery dedup within watermark ---

def dedup_redeliveries(
    bronze: DataFrame,
    watermark: str = "10 minutes",
    keys: tuple[str, ...] = ("topic", "partition", "offset"),
) -> DataFrame:
    """At-least-once -> effectively-once: drop Kafka redeliveries by their
    (topic, partition, offset) identity inside the watermark horizon.

    The reference's bronze has no dedup key at all (init.sql:8-12, SERIAL
    id — duplicates land on redelivery, SURVEY T6). Here the offset triple
    the bronze envelope carries anyway is the identity;
    ``dropDuplicatesWithinWatermark`` keeps state only for the watermark
    window, so state is bounded no matter how long the stream runs.
    """
    return bronze.withWatermark("kafka_timestamp", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


# --- A11: running message counters as observable metrics ---

def with_counters(df: DataFrame, name: str = "counters") -> DataFrame:
    """The reference's hand-rolled message_count/%1000 progress logging
    (coinbase_producer.py:20,48, db_writer.py:56-64) as ``observe()``
    metrics: per-batch row counts surface through QueryProgress /
    observedMetrics without touching the data path."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_messages"),
        F.max("ingested_at").alias("latest_ingest"),
    )


# --- harness: deterministic micro-batch execution for tests ---

def run_available_now(
    df: DataFrame, name: str, spark: SparkSession, mode: str = "append"
) -> DataFrame:
    """Drain all available input through the streaming plan into a memory
    sink; return the materialized result table (tests / smoke only).

    Append-mode windowed aggs only emit windows the watermark has passed —
    drive them with multiple files (max_files=1) whose later events advance
    the watermark, or use mode="complete" to see all open windows.
    """
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# --- J6 streaming form: bounded-staleness as-of join ---

def stream_asof_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    probe_ts: str,
    build_ts: str,
    build_value: str,
    max_staleness: str = "1 hour",
    watermark: str = "30 minutes",
    probe_id: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Streaming as-of: each probe event picks the build event on the
    same key per ``direction`` — ``'backward'`` (default): the LATEST
    at-or-before it within ``max_staleness``; ``'forward'`` (j8's
    streaming form): the EARLIEST at-or-after it within the same
    horizon; ``'nearest'`` (j9's): the temporally closest within
    ``(probe_ts - h, probe_ts + h)``, integer-microsecond distance,
    ties -> the backward (earlier) side — the batch j9 tie contract.

    Forward/nearest emission latency is INHERENT, not a Spark limit: the
    earliest FUTURE match is unknowable until the look-ahead horizon
    closes, so a probe's row flushes only once the watermark passes
    ``probe_ts + max_staleness`` (backward groups flush at ``probe_ts``
    + watermark as before). There is no impossibility — watermarks bound
    look-ahead state exactly as they bound look-back state — the price
    is horizon-delayed results, which is the same horizon the batch
    forms avoid by having the whole timeline at once.

    Batch as-of (operators/rangejoin.py asof_join) scans with unbounded
    look-back; a stream cannot — unbounded look-back means unbounded
    state. The streaming form is the standard two-operator pipeline:
    (1) a watermarked stream-stream join bounded to
        probe_ts - max_staleness < build_ts <= probe_ts, so the state
        store evicts both sides once the watermark passes the bound;
    (2) a per-probe-event aggregation taking max_by(build payload,
        build_ts) — the argmax that collapses the candidate set to the
        as-of winner. Chained stateful operators run in append mode with
        both watermarks (Spark 4 multiple-stateful-operator support).
    The staleness horizon is the price of streaming: a probe with no
    build event inside the horizon emits nothing (the batch twin's LEFT
    rows), exactly like the reference's latest-price lookup going stale.

    Horizon boundary (exact, r04 ADVICE): the look-back window is the
    half-open interval ``probe_ts - max_staleness < build_ts <=
    probe_ts`` — a build event EXACTLY max_staleness old is excluded,
    one exactly simultaneous matches.

    Probe identity: pass ``probe_id`` (a per-event unique column) to key
    the argmax per EVENT — without it the group key is (key, probe_ts)
    and two distinct probe events sharing a timestamp collapse into one
    output row (r04 ADVICE), so omitting probe_id requires (key,
    probe_ts)-unique probes.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be 'backward', 'forward' or 'nearest', got {direction!r}"
        )
    pw = probe.withWatermark(probe_ts, watermark)
    bw = build.withWatermark(build_ts, watermark)
    horizon = F.expr(f"INTERVAL {max_staleness}")
    if direction == "backward":
        win = (bw[build_ts] <= pw[probe_ts]) & (bw[build_ts] > pw[probe_ts] - horizon)
    elif direction == "forward":
        win = (bw[build_ts] >= pw[probe_ts]) & (bw[build_ts] < pw[probe_ts] + horizon)
    else:  # nearest: symmetric open horizon; simultaneous matches (abs = 0)
        win = (bw[build_ts] > pw[probe_ts] - horizon) & (
            bw[build_ts] < pw[probe_ts] + horizon
        )
    joined = pw.join(bw, (pw[key] == bw[key]) & win, "inner").drop(bw[key])
    group = [key, probe_id, probe_ts] if probe_id else [key, probe_ts]
    if direction == "backward":
        return joined.groupBy(*group).agg(
            F.max_by(F.col(build_value), F.col(build_ts)).alias(f"asof_{build_value}"),
            F.max(F.col(build_ts)).alias("asof_ts"),
        )
    if direction == "forward":
        return joined.groupBy(*group).agg(
            F.min_by(F.col(build_value), F.col(build_ts)).alias(f"asof_{build_value}"),
            F.min(F.col(build_ts)).alias("asof_ts"),
        )
    # nearest: integer-µs distance argmin, tie -> backward (j9 contract).
    # The rank struct orders by (|Δt| µs, 0-if-at-or-before-else-1,
    # build_ts) — all integers/timestamps, so the tie boundary is exact.
    rank = F.struct(
        F.abs(F.unix_micros(F.col(build_ts)) - F.unix_micros(F.col(probe_ts))).alias("d"),
        F.when(F.col(build_ts) <= F.col(probe_ts), F.lit(0)).otherwise(F.lit(1)).alias("s"),
        F.col(build_ts).alias("t"),
    )
    return joined.groupBy(*group).agg(
        F.min_by(F.col(build_value), rank).alias(f"asof_{build_value}"),
        F.min_by(F.col(build_ts), rank).alias("asof_ts"),
    )


# --- J10 streaming form: two-stream interval-OVERLAP join ---

def stream_interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    start_col: str,
    end_col: str,
    max_duration_seconds: int,
    bucket_seconds: int = 3600,
    watermark: str = "30 minutes",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Streaming two-stream interval-overlap join — the last rangejoin
    family member to gain a streaming form (batch:
    operators/rangejoin.py interval_overlap_join, j10).

    WHY overlap needs an extra assumption the as-of forms don't: as-of
    bounds look-back/ahead by a STALENESS horizon on two point events,
    so |probe_ts - build_ts| <= h is inherent to the semantics and the
    state store evicts on it directly. Overlap has no such bound — an
    interval that STARTED arbitrarily long ago can still overlap a
    brand-new one if it is long enough, so with unbounded interval
    lengths the join would need unbounded state.  The standard fix (and
    the documented CONTRACT here): a max interval duration D.  Then
    overlap implies |l.start - r.start| < D, which IS a staleness-style
    bound on the two watermarked start columns, and state evicts exactly
    like the as-of joins.  Rows violating the contract (duration > D, or
    empty end <= start) are dropped on entry — route overlong intervals
    to the batch operator (or a larger-D job) instead of silently
    breaking the bound; the drop rule is asserted in tests.

    Mechanics mirror the batch operator so stream == batch holds
    row-for-row on contract-conforming input: both sides explode into
    the time buckets they cover (blow-up <= D/bucket + 1 rows per
    interval, state is the SAME factor), the bucket is the equi-join key
    (hash join shuffled on (extra_keys..., bucket) — no cross-stream
    scan), the exact strict-overlap predicate and the later-start
    meet-once rule are residual conditions (duplicate-free output, no
    distinct()), and the |l.start - r.start| < D time-range condition on
    the watermarked columns is what lets the state store evict.  Left
    columns keep their names, right columns get the batch form's ``r_``
    prefix.
    """
    w_us = bucket_seconds * 1_000_000
    d_us = max_duration_seconds * 1_000_000

    def prep(df: DataFrame, prefix: str) -> DataFrame:
        s, e = F.unix_micros(F.col(start_col)), F.unix_micros(F.col(end_col))
        return (
            df.withWatermark(start_col, watermark)
            # contract filter: empty intervals overlap nothing; overlong
            # intervals would break the state bound -> dropped (see doc)
            .filter((e > s) & (e - s <= F.lit(d_us)))
            .select(
                *[
                    F.col(c).alias(f"{prefix}{c}")
                    for c in df.columns
                ],
                F.explode(
                    F.sequence(F.floor(s / w_us), F.floor((e - 1) / w_us))
                ).alias(f"{prefix}_bk"),
            )
        )

    keys = list(extra_keys or [])
    l, r = prep(left, ""), prep(right, "r_")
    ls, le = F.col(start_col), F.col(end_col)
    rs, re_ = F.col(f"r_{start_col}"), F.col(f"r_{end_col}")
    later_start = F.greatest(F.unix_micros(ls), F.unix_micros(rs))
    cond = (F.col("_bk") == F.col("r__bk")) & (ls < re_) & (rs < le)
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"r_{k}"))
    # state-eviction bound: overlap + duration <= D => starts within D.
    # Expressed directly on the two WATERMARKED event-time columns so the
    # symmetric hash join can compute both sides' eviction thresholds.
    horizon = F.expr(f"INTERVAL {max_duration_seconds} SECONDS")
    cond = cond & (rs > ls - horizon) & (rs < ls + horizon)
    return (
        l.join(r, cond, "inner")
        .filter(F.col("_bk") == F.floor(later_start / w_us))  # meet-once rule
        .drop("_bk", "r__bk", *[f"r_{k}" for k in keys])
    )
