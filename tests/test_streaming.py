"""Structured Streaming jobs (SURVEY §2.8): deterministic micro-batch tests
over a file-based bronze stream with availableNow triggers + memory sinks.
Covers T1 (15-min candles), T3/A7 (1 s downsample), J1 stream-static
enrichment, T8 error union, T9 quarantine, A10/T4 stateful counter, and
append-mode watermark emission across micro-batches."""

from __future__ import annotations

import json
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from kafka_streaming_polymarket_pipeline_spark import schemas, silver
from kafka_streaming_polymarket_pipeline_spark.operators import book
from kafka_streaming_polymarket_pipeline_spark.streaming import jobs
from tests import fixtures as fx


def _write_bronze_jsonl(path, messages, topic, t0=fx.T0, step_s=1):
    """One JSONL file of bronze envelopes (same shape the Kafka source yields)."""
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        for i, m in enumerate(messages):
            ts = (t0 + timedelta(seconds=i * step_s)).isoformat()
            f.write(
                json.dumps(
                    {
                        "topic": topic,
                        "partition": 0,
                        "offset": i,
                        "kafka_timestamp": ts,
                        "ingested_at": ts,
                        "payload": json.dumps(m),
                    }
                )
                + "\n"
            )


def test_file_bronze_stream_is_streaming_and_typed(spark, tmp_path):
    d = tmp_path / "bronze"
    _write_bronze_jsonl(d / "part-0.jsonl", fx.asset_prices(5), "asset-prices")
    stream = jobs.file_bronze_stream(spark, str(d))
    assert stream.isStreaming
    typed = silver.btc_prices(stream)  # silver transforms apply unchanged
    assert typed.isStreaming
    out = jobs.run_available_now(typed, "t_typed", spark)
    assert out.count() == 5
    assert {r.ticker for r in out.collect()} == {"BTC"}


def test_file_trigger_lists_its_files_on_the_driver(spark, tmp_path):
    """A 40-file trigger (above Spark's 32-path default) runs one job fewer
    in the local session than a control run at the default threshold, the
    job that lists the files, and both read what a batch read reads."""
    d = tmp_path / "bronze"
    for i, m in enumerate(fx.asset_prices(40)):
        _write_bronze_jsonl(d / f"part-{i:02d}.jsonl", [m], "asset-prices")
    want = sorted(spark.read.schema(schemas.BRONZE).json(str(d)).collect())
    local = spark.conf.get(fx.LISTING_CONF)

    def trigger(name):
        q = (
            jobs.file_bronze_stream(spark, str(d))
            .writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return fx.group_jobs(spark, str(q.runId)), sorted(spark.table(name).collect())

    n_driver, got = trigger("t_driver_listing")
    assert got == want
    spark.conf.set(fx.LISTING_CONF, "32")
    try:
        n_job, got = trigger("t_job_listing")
    finally:
        spark.conf.set(fx.LISTING_CONF, local)
    assert got == want
    assert n_driver == n_job - 1


def test_downsample_last_latest_wins(spark, tmp_path):
    # 30 ticks at 1 Hz but with 3 ticks in the same second -> last wins
    msgs = fx.asset_prices(10)
    same_sec = [dict(m, timestamp=msgs[4]["timestamp"], price=90000.0 + i) for i, m in enumerate(msgs[:3])]
    d = tmp_path / "bronze"
    _write_bronze_jsonl(d / "part-0.jsonl", msgs + same_sec, "asset-prices")
    prices = silver.btc_prices(jobs.file_bronze_stream(spark, str(d)))
    ds = jobs.downsample_last(prices)
    out = jobs.run_available_now(ds, "t_ds", spark, mode="complete")
    rows = {r.start: r.price for r in out.collect()}
    # the 3 duplicate-second ticks landed in msgs[4]'s second; the latest of
    # the three (90002.0) has the max event ts tie-broken... all share one ts,
    # so max_by picks among equal ts — assert the window exists and holds one
    # of the colliding values, and every other window holds its single tick.
    assert len(rows) == 10
    singles = [float(m["price"]) for m in msgs]
    matched = sum(1 for v in rows.values() if float(v) in singles)
    assert matched >= 9


def test_ohlc_candles_complete_mode(spark, tmp_path):
    d = tmp_path / "bronze"
    _write_bronze_jsonl(d / "part-0.jsonl", fx.asset_prices(30), "asset-prices")
    prices = silver.btc_prices(jobs.file_bronze_stream(spark, str(d)))
    out = jobs.run_available_now(jobs.ohlc_candles(prices), "t_ohlc", spark, mode="complete")
    rows = out.collect()
    assert len(rows) == 1  # 30 s of ticks -> one 15-min window
    r = rows[0]
    assert float(r.open) == 97000.0
    assert float(r.close) == 97000.0 + 29 * 3.5
    assert float(r.high) == float(r.close) and float(r.low) == float(r.open)
    assert r.n_ticks == 30 and bool(r.went_up) is True


def test_append_mode_emits_closed_windows_across_batches(spark, tmp_path):
    """Watermark semantics: batch 2's events (1 hour later) push the watermark
    past batch 1's windows, so append mode emits exactly those (T5)."""
    d = tmp_path / "bronze"
    _write_bronze_jsonl(d / "b1.jsonl", fx.asset_prices(10), "asset-prices")
    late_t0 = fx.T0 + timedelta(hours=1)
    late = [
        dict(m, timestamp=fx.iso(late_t0 + timedelta(seconds=i)))
        for i, m in enumerate(fx.asset_prices(3))
    ]
    _write_bronze_jsonl(d / "b2.jsonl", late, "asset-prices", t0=late_t0)
    prices = silver.btc_prices(jobs.file_bronze_stream(spark, str(d), max_files=1))
    out = jobs.run_available_now(jobs.ohlc_candles(prices), "t_append", spark, mode="append")
    starts = sorted(r.window_start for r in out.collect())
    # first 15-min window closed by the watermark advance; the late window
    # (still open at end-of-input) is not emitted in append mode
    assert len(starts) == 1
    assert starts[0] == fx.T0.replace(tzinfo=None)


def test_enrich_stream_broadcast_inner_drop(spark, tmp_path):
    d = tmp_path / "bronze"
    _write_bronze_jsonl(d / "ws.jsonl", fx.raw_ws_events(), "polymarket-prices")
    raw = jobs.file_bronze_stream(spark, str(d))
    events = (
        silver.parse_payload(raw, "polymarket-prices")
        .select(F.col("j.asset_id").alias("asset_id"), "payload")
        .filter("asset_id IS NOT NULL")
    )
    dim = book.token_dimension(
        fx.bronze_rows(spark, [fx.MARKET], "market-updates").transform(silver.markets)
    )
    out = jobs.run_available_now(jobs.enrich_stream(events, dim), "t_enrich", spark)
    got = {(r.asset_id, r.outcome) for r in out.select("asset_id", "outcome").collect()}
    assert got == {("7131001", "YES"), ("2549002", "NO")}  # 9999999 dropped


def test_error_side_channel_union(spark, tmp_path):
    d1, d2 = tmp_path / "e1", tmp_path / "e2"
    _write_bronze_jsonl(d1 / "a.jsonl", [{"service_name": "coinbase", "error_type": "ws_disconnect", "retry_attempts": 3}], "service-errors")
    _write_bronze_jsonl(d2 / "a.jsonl", [{"service_name": "positions", "error_type": "api_failure", "market_id": "543210", "consecutive_errors": 5}], "service-errors")
    s1 = silver.service_errors(jobs.file_bronze_stream(spark, str(d1)))
    s2 = silver.service_errors(jobs.file_bronze_stream(spark, str(d2)))
    out = jobs.run_available_now(jobs.error_side_channel(s1, s2), "t_err", spark)
    assert out.count() == 2
    assert {r.service_name for r in out.collect()} == {"coinbase", "positions"}


def test_quarantine_stream(spark, tmp_path):
    d = tmp_path / "bronze"
    good = fx.asset_prices(3)
    path = d / "mixed.jsonl"
    _write_bronze_jsonl(path, good, "asset-prices")
    with open(path, "a") as f:
        f.write(json.dumps({"topic": "asset-prices", "partition": 0, "offset": 99,
                            "kafka_timestamp": fx.iso(fx.T0), "ingested_at": fx.iso(fx.T0),
                            "payload": "{not json!!"}) + "\n")
    stream = jobs.file_bronze_stream(spark, str(d))
    bad = jobs.run_available_now(silver.corrupt_records(stream, "asset-prices"), "t_quar", spark)
    assert bad.count() == 1
    assert bad.collect()[0].payload.startswith("{not json")


def test_consecutive_error_alerts_stateful(spark, tmp_path):
    """7 consecutive failures -> one alert at the 5th; success resets the run
    (threshold semantics of user_positions_tracker.py:134-151)."""
    rows = []
    seq = [False] * 7 + [True] + [False] * 5  # 7 fails, success, 5 fails
    for i, ok in enumerate(seq):
        rows.append(("543210", fx.T0 + timedelta(seconds=10 * i), ok))
    pdf = spark.createDataFrame(rows, "market_id string, event_ts timestamp, ok boolean")
    src_dir = tmp_path / "attempts"
    pdf.coalesce(1).write.json(str(src_dir))
    stream = spark.readStream.schema("market_id string, event_ts timestamp, ok boolean").json(str(src_dir))
    out = jobs.run_available_now(jobs.consecutive_error_alerts(stream), "t_state", spark)
    alerts = sorted((r.consecutive_errors for r in out.collect()))
    assert alerts == [5, 5]  # 5th of first run, 5th of second run


def test_dedup_redeliveries_drops_duplicate_offsets(spark, tmp_path):
    """T6: the same (topic, partition, offset) delivered twice lands once."""
    d = tmp_path / "bronze"
    msgs = fx.asset_prices(5)
    _write_bronze_jsonl(d / "a.jsonl", msgs, "asset-prices")
    _write_bronze_jsonl(d / "b.jsonl", msgs, "asset-prices")  # full redelivery
    stream = jobs.dedup_redeliveries(jobs.file_bronze_stream(spark, str(d)))
    out = jobs.run_available_now(stream, "t_dedup", spark)
    assert out.count() == 5
    assert out.select("offset").distinct().count() == 5


def test_stream_interval_join_matches_within_tolerance(spark, tmp_path):
    # Two file streams: prices at t0, t0+1h, and trades at t0+2min (joins
    # with the first price), t0+55min (outside the 10-min tolerance of
    # either price -> dropped), t0+61min (joins with the second price).
    import json

    base = "2024-01-01T00:{m:02d}:00.000000"
    pdir, tdir = tmp_path / "p", tmp_path / "t"
    pdir.mkdir(), tdir.mkdir()
    prices = [
        {"symbol": "BTC", "price_timestamp": "2024-01-01T00:00:00.000000", "price": 100.0},
        {"symbol": "BTC", "price_timestamp": "2024-01-01T01:00:00.000000", "price": 200.0},
    ]
    trades = [
        {"symbol": "BTC", "trade_timestamp": base.format(m=2), "size": 1.0},
        {"symbol": "BTC", "trade_timestamp": base.format(m=55), "size": 2.0},
        {"symbol": "BTC", "trade_timestamp": "2024-01-01T01:01:00.000000", "size": 3.0},
        {"symbol": "ETH", "trade_timestamp": base.format(m=2), "size": 9.0},  # key miss
    ]
    (pdir / "p.jsonl").write_text("\n".join(json.dumps(r) for r in prices))
    (tdir / "t.jsonl").write_text("\n".join(json.dumps(r) for r in trades))
    ps = (
        spark.readStream.schema("symbol string, price_timestamp string, price double")
        .json(str(pdir))
        .withColumn("price_timestamp", F.to_timestamp("price_timestamp"))
    )
    ts = (
        spark.readStream.schema("symbol string, trade_timestamp string, size double")
        .json(str(tdir))
        .withColumn("trade_timestamp", F.to_timestamp("trade_timestamp"))
    )
    joined = jobs.stream_interval_join(ps, ts)
    out = jobs.run_available_now(joined, "t_ssj", spark)
    rows = {(float(r.price), float(r.size)) for r in out.collect()}
    assert rows == {(100.0, 1.0), (200.0, 3.0)}


def test_stream_interval_join_checkpoint_recovery(spark, tmp_path):
    """T6 for the stream-stream join: restarting from the checkpoint after
    more input arrives emits only the NEW matches — join state and source
    offsets come from the checkpoint, so nothing is lost or re-emitted."""
    import json

    pdir, tdir = tmp_path / "p", tmp_path / "t"
    pdir.mkdir(), tdir.mkdir()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run_once():
        ps = (
            spark.readStream.schema("symbol string, price_timestamp string, price double")
            .json(str(pdir))
            .withColumn("price_timestamp", F.to_timestamp("price_timestamp"))
        )
        ts = (
            spark.readStream.schema("symbol string, trade_timestamp string, size double")
            .json(str(tdir))
            .withColumn("trade_timestamp", F.to_timestamp("trade_timestamp"))
        )
        q = (
            jobs.stream_interval_join(ps, ts)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    (pdir / "p1.jsonl").write_text(json.dumps(
        {"symbol": "BTC", "price_timestamp": "2024-01-01T00:00:00.000000", "price": 100.0}))
    (tdir / "t1.jsonl").write_text(json.dumps(
        {"symbol": "BTC", "trade_timestamp": "2024-01-01T00:02:00.000000", "size": 1.0}))
    run_once()
    assert spark.read.parquet(out).count() == 1

    (tdir / "t2.jsonl").write_text(json.dumps(
        {"symbol": "BTC", "trade_timestamp": "2024-01-01T00:05:00.000000", "size": 2.0}))
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 2  # old match kept once, new match appended
    assert {float(r.size) for r in got.collect()} == {1.0, 2.0}


def test_stream_asof_join_picks_latest_within_horizon(spark, tmp_path):
    """Three quotes before the trade: the latest within the 1h horizon
    wins; a quote after the trade and a too-stale quote never match; a
    trade with no in-horizon quote emits nothing."""
    import json

    qdir, tdir = tmp_path / "q", tmp_path / "t"
    qdir.mkdir(), tdir.mkdir()
    quotes = [
        {"symbol": "BTC", "quote_ts": "2024-01-01T05:00:00.000000", "quote": 1.0},   # stale (>1h)
        {"symbol": "BTC", "quote_ts": "2024-01-01T09:10:00.000000", "quote": 2.0},   # in horizon
        {"symbol": "BTC", "quote_ts": "2024-01-01T09:50:00.000000", "quote": 3.0},   # latest prior -> wins
        {"symbol": "BTC", "quote_ts": "2024-01-01T10:05:00.000000", "quote": 4.0},   # after trade
        {"symbol": "ETH", "quote_ts": "2024-01-01T23:00:00.000000", "quote": 9.0},
    ]
    trades = [
        {"symbol": "BTC", "trade_ts": "2024-01-01T10:00:00.000000"},
        {"symbol": "ETH", "trade_ts": "2024-01-01T01:00:00.000000"},  # nothing in horizon
    ]
    (qdir / "q1.jsonl").write_text("\n".join(json.dumps(r) for r in quotes))
    (tdir / "t1.jsonl").write_text("\n".join(json.dumps(r) for r in trades))
    # Far-future batch-2 events on BOTH streams: the watermark (min over
    # inputs) passes the day-1 groups so append mode flushes them; the
    # day-2 group itself stays open and is not emitted.
    (qdir / "q2.jsonl").write_text(json.dumps(
        {"symbol": "BTC", "quote_ts": "2024-01-02T12:00:00.000000", "quote": 99.0}))
    (tdir / "t2.jsonl").write_text(json.dumps(
        {"symbol": "BTC", "trade_ts": "2024-01-02T12:01:00.000000"}))
    qs = (
        spark.readStream.schema("symbol string, quote_ts string, quote double")
        .option("maxFilesPerTrigger", 1)
        .json(str(qdir))
        .withColumn("quote_ts", F.to_timestamp("quote_ts"))
    )
    ts = (
        spark.readStream.schema("symbol string, trade_ts string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tdir))
        .withColumn("trade_ts", F.to_timestamp("trade_ts"))
    )
    out = jobs.run_available_now(
        jobs.stream_asof_join(ts, qs, key="symbol",
                              probe_ts="trade_ts", build_ts="quote_ts",
                              build_value="quote"),
        "t_asof", spark,
    )
    rows = {(r.symbol, float(r.asof_quote)) for r in out.collect()}
    assert rows == {("BTC", 3.0)}


def test_stream_asof_join_checkpoint_recovery(spark, tmp_path):
    """T6 for the chained join+argmax as-of: restart from the checkpoint
    after later input arrives — the watermark advance flushes the day-1
    group exactly once with the correct latest-prior quote, proving both
    stateful operators (join state AND agg state) recover."""
    import json

    qdir, tdir = tmp_path / "q", tmp_path / "t"
    qdir.mkdir(), tdir.mkdir()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run_once():
        qs = (
            spark.readStream.schema("symbol string, quote_ts string, quote double")
            .json(str(qdir))
            .withColumn("quote_ts", F.to_timestamp("quote_ts"))
        )
        ts = (
            spark.readStream.schema("symbol string, trade_ts string")
            .json(str(tdir))
            .withColumn("trade_ts", F.to_timestamp("trade_ts"))
        )
        q = (
            jobs.stream_asof_join(ts, qs, key="symbol", probe_ts="trade_ts",
                                  build_ts="quote_ts", build_value="quote")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    (qdir / "q1.jsonl").write_text("\n".join(json.dumps(r) for r in [
        {"symbol": "BTC", "quote_ts": "2024-01-01T09:10:00.000000", "quote": 2.0},
        {"symbol": "BTC", "quote_ts": "2024-01-01T09:50:00.000000", "quote": 3.0},
    ]))
    (tdir / "t1.jsonl").write_text(json.dumps(
        {"symbol": "BTC", "trade_ts": "2024-01-01T10:00:00.000000"}))
    run_once()
    # group still open (watermark has not passed trade_ts) -> nothing yet
    import os
    first = (
        spark.read.parquet(out).count()
        if any(f.endswith(".parquet") for f in os.listdir(out))
        else 0
    )
    assert first == 0

    # Batch 2: far-future events on BOTH streams advance the watermark
    (qdir / "q2.jsonl").write_text(json.dumps(
        {"symbol": "BTC", "quote_ts": "2024-01-02T12:00:00.000000", "quote": 99.0}))
    (tdir / "t2.jsonl").write_text(json.dumps(
        {"symbol": "BTC", "trade_ts": "2024-01-02T12:01:00.000000"}))
    run_once()
    got = spark.read.parquet(out).collect()
    assert len(got) == 1
    assert float(got[0].asof_quote) == 3.0  # latest-prior, recovered state


def test_stream_asof_join_probe_id_keeps_same_ts_events(spark, tmp_path):
    """Two distinct trades at the IDENTICAL timestamp: with probe_id the
    argmax is per-event and both rows survive (r04 ADVICE — without it
    the (key, ts) group collapses them)."""
    import json

    qdir, tdir = tmp_path / "q", tmp_path / "t"
    qdir.mkdir(), tdir.mkdir()
    quotes = [
        {"symbol": "BTC", "quote_ts": "2024-01-01T09:50:00.000000", "quote": 3.0},
    ]
    trades = [
        {"symbol": "BTC", "trade_id": "t-1", "trade_ts": "2024-01-01T10:00:00.000000"},
        {"symbol": "BTC", "trade_id": "t-2", "trade_ts": "2024-01-01T10:00:00.000000"},
    ]
    (qdir / "q1.jsonl").write_text("\n".join(json.dumps(r) for r in quotes))
    (tdir / "t1.jsonl").write_text("\n".join(json.dumps(r) for r in trades))
    # watermark-advancing batch-2 events on both streams
    (qdir / "q2.jsonl").write_text(json.dumps(
        {"symbol": "BTC", "quote_ts": "2024-01-02T12:00:00.000000", "quote": 99.0}))
    (tdir / "t2.jsonl").write_text(json.dumps(
        {"symbol": "BTC", "trade_id": "t-3", "trade_ts": "2024-01-02T12:01:00.000000"}))
    qs = (
        spark.readStream.schema("symbol string, quote_ts string, quote double")
        .option("maxFilesPerTrigger", 1)
        .json(str(qdir))
        .withColumn("quote_ts", F.to_timestamp("quote_ts"))
    )
    ts = (
        spark.readStream.schema("symbol string, trade_id string, trade_ts string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tdir))
        .withColumn("trade_ts", F.to_timestamp("trade_ts"))
    )
    out = jobs.run_available_now(
        jobs.stream_asof_join(ts, qs, key="symbol", probe_ts="trade_ts",
                              build_ts="quote_ts", build_value="quote",
                              probe_id="trade_id"),
        "t_asof_pid", spark,
    )
    rows = {(r.trade_id, float(r.asof_quote)) for r in out.collect()}
    assert rows == {("t-1", 3.0), ("t-2", 3.0)}


def _asof_streams(spark, tmp_path, quotes, trades):
    """File-source twin pair for the as-of tests: one batch per file."""
    qdir, tdir = tmp_path / "q", tmp_path / "t"
    qdir.mkdir(), tdir.mkdir()
    (qdir / "q1.jsonl").write_text("\n".join(json.dumps(r) for r in quotes))
    (tdir / "t1.jsonl").write_text("\n".join(json.dumps(r) for r in trades))
    # far-future batch-2 rows on BOTH streams advance the watermark past
    # every day-1 group (incl. the +1h look-ahead horizon)
    (qdir / "q2.jsonl").write_text(json.dumps(
        {"symbol": "BTC", "quote_ts": "2024-01-03T12:00:00.000000", "quote": 99.0}))
    (tdir / "t2.jsonl").write_text(json.dumps(
        {"symbol": "BTC", "trade_ts": "2024-01-03T12:01:00.000000"}))
    qs = (
        spark.readStream.schema("symbol string, quote_ts string, quote double")
        .option("maxFilesPerTrigger", 1)
        .json(str(qdir))
        .withColumn("quote_ts", F.to_timestamp("quote_ts"))
    )
    ts = (
        spark.readStream.schema("symbol string, trade_ts string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tdir))
        .withColumn("trade_ts", F.to_timestamp("trade_ts"))
    )
    return ts, qs


def test_stream_asof_forward_picks_earliest_within_horizon(spark, tmp_path):
    """j8's streaming form: earliest at-or-after wins; a quote exactly
    +1h ahead is OUTSIDE the half-open horizon; backward-only quotes
    never match; a simultaneous quote matches."""
    quotes = [
        {"symbol": "BTC", "quote_ts": "2024-01-01T09:50:00.000000", "quote": 1.0},  # before: never
        {"symbol": "BTC", "quote_ts": "2024-01-01T10:20:00.000000", "quote": 2.0},  # earliest after -> wins
        {"symbol": "BTC", "quote_ts": "2024-01-01T10:40:00.000000", "quote": 3.0},  # later after
        {"symbol": "ETH", "quote_ts": "2024-01-01T02:00:00.000000", "quote": 9.0},  # exactly +1h: excluded
        {"symbol": "SOL", "quote_ts": "2024-01-01T07:00:00.000000", "quote": 5.0},  # simultaneous -> wins
    ]
    trades = [
        {"symbol": "BTC", "trade_ts": "2024-01-01T10:00:00.000000"},
        {"symbol": "ETH", "trade_ts": "2024-01-01T01:00:00.000000"},
        {"symbol": "SOL", "trade_ts": "2024-01-01T07:00:00.000000"},
    ]
    ts, qs = _asof_streams(spark, tmp_path, quotes, trades)
    out = jobs.run_available_now(
        jobs.stream_asof_join(ts, qs, key="symbol", probe_ts="trade_ts",
                              build_ts="quote_ts", build_value="quote",
                              direction="forward"),
        "t_asof_fwd", spark,
    )
    rows = {(r.symbol, float(r.asof_quote)) for r in out.collect()
            if r.symbol in ("BTC", "ETH", "SOL")}
    assert rows == {("BTC", 2.0), ("SOL", 5.0)}


def test_stream_asof_nearest_tie_goes_backward(spark, tmp_path):
    """j9's streaming form: closest either side wins (integer-µs
    distance); EQUAL distances -> the backward (earlier) quote; both
    sides out of horizon -> no row."""
    quotes = [
        # BTC: -10 min and +5 min -> forward wins
        {"symbol": "BTC", "quote_ts": "2024-01-01T09:50:00.000000", "quote": 1.0},
        {"symbol": "BTC", "quote_ts": "2024-01-01T10:05:00.000000", "quote": 2.0},
        # ETH: -15 min and +15 min, exact tie -> backward wins
        {"symbol": "ETH", "quote_ts": "2024-01-01T03:45:00.000000", "quote": 3.0},
        {"symbol": "ETH", "quote_ts": "2024-01-01T04:15:00.000000", "quote": 4.0},
        # SOL: nothing within ±1h
        {"symbol": "SOL", "quote_ts": "2024-01-01T05:00:00.000000", "quote": 5.0},
    ]
    trades = [
        {"symbol": "BTC", "trade_ts": "2024-01-01T10:00:00.000000"},
        {"symbol": "ETH", "trade_ts": "2024-01-01T04:00:00.000000"},
        {"symbol": "SOL", "trade_ts": "2024-01-01T08:00:00.000000"},
    ]
    ts, qs = _asof_streams(spark, tmp_path, quotes, trades)
    out = jobs.run_available_now(
        jobs.stream_asof_join(ts, qs, key="symbol", probe_ts="trade_ts",
                              build_ts="quote_ts", build_value="quote",
                              direction="nearest"),
        "t_asof_near", spark,
    )
    rows = {(r.symbol, float(r.asof_quote)) for r in out.collect()
            if r.symbol in ("BTC", "ETH", "SOL")}
    assert rows == {("BTC", 2.0), ("ETH", 3.0)}


def test_stream_asof_nearest_matches_batch_j9_contract(spark, tmp_path):
    """Stream == batch on the same inputs: the streaming nearest pick
    (within a horizon that covers every pair) equals the batch j9
    composition's pick for every probe that has an in-horizon match."""
    from kafka_streaming_polymarket_pipeline_spark.operators.rangejoin import asof_join

    quotes = [
        {"symbol": "BTC", "quote_ts": "2024-01-01T09:58:00.000000", "quote": 1.0},
        {"symbol": "BTC", "quote_ts": "2024-01-01T10:01:00.000000", "quote": 2.0},
        {"symbol": "BTC", "quote_ts": "2024-01-01T10:30:00.000000", "quote": 3.0},
        {"symbol": "ETH", "quote_ts": "2024-01-01T04:20:00.000000", "quote": 4.0},
    ]
    trades = [
        {"symbol": "BTC", "trade_ts": "2024-01-01T10:00:00.000000"},
        {"symbol": "BTC", "trade_ts": "2024-01-01T10:29:00.000000"},
        {"symbol": "ETH", "trade_ts": "2024-01-01T04:00:00.000000"},
    ]
    ts, qs = _asof_streams(spark, tmp_path, quotes, trades)
    out = jobs.run_available_now(
        jobs.stream_asof_join(ts, qs, key="symbol", probe_ts="trade_ts",
                              build_ts="quote_ts", build_value="quote",
                              direction="nearest"),
        "t_asof_near_vs_batch", spark,
    )
    got = {(r.symbol, str(r.trade_ts), float(r.asof_quote)) for r in out.collect()
           if str(r.trade_ts).startswith("2024-01-01")}

    # batch nearest: two directional asof_joins composed, j9 tie contract
    probe = spark.createDataFrame(
        [(t["symbol"], t["trade_ts"]) for t in trades], "symbol string, trade_ts string"
    ).select("symbol", F.to_timestamp("trade_ts").alias("ts"))
    build = spark.createDataFrame(
        [(q["symbol"], q["quote_ts"], q["quote"]) for q in quotes],
        "symbol string, quote_ts string, quote double",
    ).select("symbol", F.to_timestamp("quote_ts").alias("ts"), "quote")
    back = asof_join(probe, build.select("symbol", "ts", F.col("quote").alias("bq"),
                                         F.col("ts").alias("bts")),
                     on="symbol", ts_col="ts", build_cols=["bq", "bts"],
                     direction="backward")
    fwd = asof_join(probe, build.select("symbol", "ts", F.col("quote").alias("fq"),
                                        F.col("ts").alias("fts")),
                    on="symbol", ts_col="ts", build_cols=["fq", "fts"],
                    direction="forward")
    both = back.join(fwd, ["symbol", "ts"])
    d_b = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("bts"))
    d_f = F.unix_micros(F.col("fts")) - F.unix_micros(F.col("ts"))
    pick_back = F.col("bq").isNotNull() & (F.col("fq").isNull() | (d_b <= d_f))
    batch = both.select(
        "symbol", "ts", F.when(pick_back, F.col("bq")).otherwise(F.col("fq")).alias("q")
    )
    want = {(r.symbol, str(r.ts), float(r.q)) for r in batch.collect()}
    assert got == want and got


def test_stream_ewma_matches_batch_fold(spark, tmp_path):
    """a24's streaming form: after the final micro-batch, each user's
    latest update-mode emission equals the BATCH fold over every event
    seen (n_events exact, ewma to the 6 dp contract), including users
    whose events split across batches and users with NULL values."""
    import os
    import time as _time

    src = tmp_path / "ev"
    os.makedirs(src)
    rows0 = [
        (1, 7, 10.0, "2024-01-01 00:00:01"),
        (2, 7, 20.0, "2024-01-01 00:00:02"),
        (3, 8, 5.0,  "2024-01-01 00:00:03"),
        (4, 8, None, "2024-01-01 00:00:04"),  # NULL: excluded
    ]
    rows1 = [
        (5, 7, 40.0, "2024-01-01 00:00:05"),  # user 7 continues across batches
        (6, 9, 1.0,  "2024-01-01 00:00:06"),  # new user in batch 1
    ]
    schema = "event_id long, user_id long, value double, ts string"

    def write(rows, name):
        spark.createDataFrame(rows, schema).selectExpr(
            "event_id", "user_id", "value", "CAST(ts AS TIMESTAMP) AS ts"
        ).coalesce(1).write.parquet(str(src / name))

    write(rows0, "f0")
    _time.sleep(1.1)
    write(rows1, "f1")

    stream = (
        spark.readStream.schema("event_id long, user_id long, value double, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def land(batch, batch_id):
        batch.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    q = (
        jobs.stream_ewma(stream)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", ck)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    got_df = spark.read.option("basePath", out_dir).parquet(f"{out_dir}/batch=*")
    # latest emission per user = the one with the max n_events
    latest = {}
    for r in got_df.collect():
        if r["user_id"] not in latest or r["n_events"] > latest[r["user_id"]][0]:
            latest[r["user_id"]] = (r["n_events"], r["ewma_value"])

    # batch fold over the union (a24's exact contract)
    def fold(vals):
        acc = None
        for v in vals:
            acc = v if acc is None else 0.75 * acc + 0.25 * v
        return acc

    want = {
        7: (3, fold([10.0, 20.0, 40.0])),
        8: (1, fold([5.0])),
        9: (1, fold([1.0])),
    }
    assert set(latest) == set(want)
    for u, (n, ewma) in want.items():
        assert latest[u][0] == n
        assert abs(latest[u][1] - ewma) < 1e-12  # same IEEE expression
    # user 7 emitted in BOTH batches (update mode re-emits touched keys)
    assert len([r for r in got_df.collect() if r["user_id"] == 7]) == 2


def test_stream_ewma_checkpoint_recovery(spark, tmp_path):
    """Restart with the same checkpoint: the keyed (acc, n) state must
    resume, so a user spanning the restart folds CONTINUOUSLY — not
    from scratch."""
    import os

    src = tmp_path / "ev"
    os.makedirs(src)
    schema = "event_id long, user_id long, value double, ts string"
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def write(rows, name):
        spark.createDataFrame(rows, schema).selectExpr(
            "event_id", "user_id", "value", "CAST(ts AS TIMESTAMP) AS ts"
        ).coalesce(1).write.parquet(str(src / name))

    def run_once():
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, value double, ts timestamp"
            ).parquet(f"{src}/f*")
        )

        def land(batch, batch_id):
            batch.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

        q = (
            jobs.stream_ewma(stream)
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", ck)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    write([(1, 7, 10.0, "2024-01-01 00:00:01"), (2, 7, 20.0, "2024-01-01 00:00:02")], "f0")
    run_once()  # job terminates after consuming f0
    write([(3, 7, 40.0, "2024-01-01 00:00:03")], "f1")
    run_once()  # restart from the checkpoint; must resume user 7's state

    got = spark.read.option("basePath", out_dir).parquet(f"{out_dir}/batch=*")
    latest = max(got.collect(), key=lambda r: r["n_events"])
    acc = 10.0
    acc = 0.75 * acc + 0.25 * 20.0
    acc = 0.75 * acc + 0.25 * 40.0
    assert latest["user_id"] == 7 and latest["n_events"] == 3
    assert abs(latest["ewma_value"] - acc) < 1e-12
