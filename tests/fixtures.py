"""Wire-faithful message fixtures (shapes from FIXTURES.md, cited to the
reference producers). Deterministic; used by silver/book/positions tests
and the streaming micro-batch tests."""

from __future__ import annotations

import json
from contextlib import contextmanager
from datetime import datetime, timedelta, timezone

T0 = datetime(2026, 1, 25, 19, 45, 0, tzinfo=timezone.utc)


def iso(dt: datetime) -> str:
    return dt.isoformat().replace("+00:00", "Z")


MARKET = {
    "market_id": "543210",
    "condition_id": "0xabc123",
    "question": "Bitcoin Up or Down - January 25, 2:45PM ET",
    "yes_price": 0.52,
    "no_price": 0.48,
    "token_ids": ["7131001", "2549002"],
    "start_time": iso(T0),
    "end_time": iso(T0 + timedelta(minutes=15)),
    "active": True,
    "best_bid": 0.51,
    "best_ask": 0.53,
    "liquidity": "18000.50",
    "volume": "52000.10",
    "slug": "bitcoin-up-or-down-jan-25",
}


def asset_prices(n: int = 30):
    return [
        {
            "symbol": "BTC",
            "price": 97000.0 + i * 3.5,
            "timestamp": iso(T0 + timedelta(seconds=i)),
            "volume": 12345.0 + i,
        }
        for i in range(n)
    ]


def raw_ws_events():
    """One of each raw CLOB frame shape (FIXTURES.md §3e)."""
    return [
        {
            "event_type": "book",
            "asset_id": "7131001",
            "market": "0xabc123",
            "bids": [{"price": "0.51", "size": "1200"}, {"price": "0.45", "size": "5000"}],
            "asks": [{"price": "0.53", "size": "800"}, {"price": "0.60", "size": "4000"}],
        },
        {
            "event_type": "book",
            "asset_id": "2549002",
            "market": "0xabc123",
            "bids": [{"price": "0.47", "size": "300"}],
            "asks": [{"price": "0.49", "size": "300"}],
        },
        {  # empty book -> must be dropped by the P8 guard
            "event_type": "book",
            "asset_id": "7131001",
            "market": "0xabc123",
            "bids": [],
            "asks": [{"price": "0.53", "size": "800"}],
        },
        {
            "event_type": "price_change",
            "price_changes": [
                {"asset_id": "7131001", "price": "0.52", "size": "250", "side": "BUY"},
                {"asset_id": "2549002", "price": "0.48", "size": "90", "side": "SELL"},
            ],
        },
        {
            "event_type": "last_trade_price",
            "asset_id": "7131001",
            "price": "0.52",
            "size": "100",
            "side": "SELL",
        },
        {"event_type": "tick_size_change", "asset_id": "7131001"},
        {"event_type": "book", "asset_id": "9999999", "market": "0xZZZ",  # unmapped asset
         "bids": [{"price": "0.1", "size": "10"}], "asks": [{"price": "0.2", "size": "10"}]},
    ]


def resolution():
    return {
        "market_id": "543210",
        "market_slug": "bitcoin-up-or-down-jan-25",
        "winner": "Up",
        "final_yes_price": "1",  # string on the wire (market_resolution.py:96-97)
        "final_no_price": "0",
        "volume": "52000.10",
        "resolution_status": "resolved",
        "resolved_at": iso(T0 + timedelta(minutes=18)),
    }


def positions(n_snapshots: int = 3, wallets: int = 5):
    out = []
    for s in range(n_snapshots):
        snap = iso(T0 + timedelta(seconds=10 * (s + 1)))
        for w in range(wallets):
            out.append(
                {
                    "type": "position",
                    "market_id": "543210",
                    "condition_id": "0xabc123",
                    "snapshot_time": snap,
                    "user": f"0xWallet{w:03d}",
                    "asset_id": "7131001" if w % 2 == 0 else "2549002",
                    "outcome": "YES" if w % 2 == 0 else "NO",
                    "outcome_index": 0 if w % 2 == 0 else 1,
                    "balance": (w + 1) * 1000 * (s + 1),
                }
            )
    out.append(
        {
            "type": "position_snapshot_empty",
            "market_id": "543210",
            "condition_id": "0xabc123",
            "snapshot_time": iso(T0 + timedelta(seconds=40)),
            "position_count": 0,
        }
    )
    return out


def bronze_rows(spark, messages: list[dict], topic: str):
    """Wrap messages in the bronze envelope (duplicates legal, FIXTURES §8)."""
    from kafka_streaming_polymarket_pipeline_spark import schemas

    rows = [
        (topic, 0, i, T0 + timedelta(seconds=i), T0 + timedelta(seconds=i), json.dumps(m))
        for i, m in enumerate(messages)
    ]
    return spark.createDataFrame(rows, schemas.BRONZE)


# --- Spark job accounting ---

LISTING_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"


@contextmanager
def job_group(spark, group: str):
    """Run the block's Spark jobs in job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_jobs(spark, group: str) -> int:
    """Number of Spark jobs run in job group ``group`` (a streaming query's
    jobs carry its run id as group). A read handed more paths than
    ``LISTING_CONF`` lists them with one extra job, so a test compares this
    count against a control run at Spark's default of 32."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
