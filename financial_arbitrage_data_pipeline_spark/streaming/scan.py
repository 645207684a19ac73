"""The streaming opportunity scan — the reference's core continuous query
(J1/J2/T2/T3/F5/F6/A7, `virginia/logic/opportunity_scanner.py:376-529`)
as ONE stateful Structured Streaming operator.

Reference semantics: per (kalshi_ticker, condition_id) pair it keeps only
the *newest* quote per venue (`current_kalshi_data` /
`current_polymarket_data` dicts, `opportunity_scanner.py:190-191,296-297`
— T3), gates on both sides being fresh (<60 s, `:330-344` — F5/T2),
normalizes prices, takes the better YES/NO side above the 2% threshold
(`_detect_simple_arbitrage`, the non-shadowed definition at `:431-500` —
F6/A7).

Spark realization: `groupBy(pair_id).applyInPandasWithState` holding a
six-number state per pair (latest yes/no/ts per venue). The fold is by
(event_time, event_id) — NOT arrival order — so results are deterministic
and independent of micro-batch boundaries; the freshness gate compares
the two sides' event times (the replayable analog of the reference's
wall-clock age check; same gate, reproducible clock).

Scale notes (100 TB stream): state is O(#pairs) × ~48 bytes — millions of
pairs fit one executor, and state is hash-partitioned on pair_id across
the cluster. The per-batch cost is one shuffle of the batch's quotes on
pair_id; the pair-universe filter is a broadcast stream-static join
BEFORE the shuffle, so unmapped keys never enter state (J2).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

FRESHNESS_US_DEFAULT = 86_400_000_000  # 24 h for the 30-day fixture replay
THRESHOLD_DEFAULT = 0.02  # `virginia/utils/config.py:270`

# Unified venue-quote rows entering the scan.
QUOTE_SCHEMA = T.StructType(
    [
        T.StructField("pair_id", T.LongType(), False),
        T.StructField("venue", T.StringType(), False),  # kalshi | polymarket
        T.StructField("yes", T.DoubleType(), False),
        T.StructField("no", T.DoubleType(), False),
        T.StructField("ts_us", T.LongType(), False),
        T.StructField("event_id", T.LongType(), False),
    ]
)

# Per-pair state: latest quote per venue (ts_us = -1 → venue unseen).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("k_yes", T.DoubleType(), True),
        T.StructField("k_no", T.DoubleType(), True),
        T.StructField("k_ts", T.LongType(), True),
        T.StructField("k_eid", T.LongType(), True),
        T.StructField("p_yes", T.DoubleType(), True),
        T.StructField("p_no", T.DoubleType(), True),
        T.StructField("p_ts", T.LongType(), True),
        T.StructField("p_eid", T.LongType(), True),
    ]
)

# One emission per pair per micro-batch that touched it: the pair's
# current decision. has_opp=False emissions matter — they retract a
# previously-emitted opportunity, so "last emission per pair" IS the
# final state (the oracle-checkable invariant).
OPPORTUNITY_SCHEMA = T.StructType(
    [
        T.StructField("pair_id", T.LongType(), False),
        T.StructField("has_opp", T.BooleanType(), False),
        T.StructField("arbitrage_type", T.StringType(), True),
        T.StructField("kalshi_price", T.DoubleType(), True),
        T.StructField("poly_price", T.DoubleType(), True),
        T.StructField("profit_margin", T.DoubleType(), True),
    ]
)


def quotes_from_snapshots(snapshots: DataFrame) -> DataFrame:
    """Derive unified venue quotes from enriched snapshot rows, with the
    exact price math of the batch `arbitrage_scan` (operators/market.py):
    Kalshi rows (click/view events) yield yes/no bids from round(value*100)
    cents; Polymarket rows yield yes and its complement (P5/P6)."""
    cents = F.round(F.col("value") * 100).cast("long")
    is_kalshi = F.col("event_type").isin("click", "view")
    k_yes = (cents % 97 + 1).cast("double") / F.lit(100.0)
    k_no = (cents % 89 + 1).cast("double") / F.lit(100.0)
    p_yes = (cents % 99 + 1).cast("double") / F.lit(100.0)
    return snapshots.select(
        F.col("user_id").alias("pair_id"),
        F.when(is_kalshi, F.lit("kalshi")).otherwise(F.lit("polymarket")).alias("venue"),
        F.when(is_kalshi, k_yes).otherwise(p_yes).alias("yes"),
        F.when(is_kalshi, k_no).otherwise(F.lit(1.0) - p_yes).alias("no"),
        "ts_us",
        "event_id",
    )


def pair_universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The broadcastable pair dimension (J2/F1): active mapped pairs,
    fixture-derived the same way as the batch scan."""
    return (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .filter((F.col("c_custkey") < 200) & (F.col("c_custkey") % 10 != 0))
        .select(F.col("c_custkey").alias("pair_id"))
    )


def _decide(
    state: tuple[Any, ...], freshness_us: int, threshold: float
) -> tuple[bool, str | None, float | None, float | None, float | None]:
    """`_detect_simple_arbitrage` (`opportunity_scanner.py:431-500`) on a
    folded state tuple. Pure-Python doubles: the same IEEE ops the oracle
    performs, so margins are bit-identical."""
    k_yes, k_no, k_ts, _, p_yes, p_no, p_ts, _ = state
    if k_ts < 0 or p_ts < 0 or abs(k_ts - p_ts) > freshness_us:
        return (False, None, None, None, None)
    yes_ok = p_yes < k_yes
    no_ok = p_no < k_no
    if not (yes_ok or no_ok):
        return (False, None, None, None, None)
    margin_yes = (k_yes - p_yes) / p_yes
    margin_no = (k_no - p_no) / p_no
    take_yes = yes_ok and (not no_ok or margin_yes >= margin_no)
    margin = margin_yes if take_yes else margin_no
    if margin <= threshold:
        return (False, None, None, None, None)
    return (
        True,
        "kalshi_yes_polymarket_no" if take_yes else "kalshi_no_polymarket_yes",
        k_yes if take_yes else k_no,
        p_yes if take_yes else p_no,
        margin,
    )


_EMPTY_STATE = (0.0, 0.0, -1, -1, 0.0, 0.0, -1, -1)


def _fold_batches(s: list, pdfs: Iterator[pd.DataFrame]) -> list:
    """Fold micro-batch quote frames into the 8-slot latest-per-venue
    state by (ts_us, event_id) — vectorized: per venue, take the batch's
    max row, then compare against state; no per-row Python."""
    for pdf in pdfs:
        for is_kalshi, base in ((True, 0), (False, 4)):
            sub = pdf[(pdf["venue"] == "kalshi") == is_kalshi]
            if len(sub) == 0:
                continue
            top = sub.sort_values(["ts_us", "event_id"]).iloc[-1]
            ts, eid = int(top.ts_us), int(top.event_id)
            if (ts, eid) > (s[base + 2], s[base + 3]):
                s[base : base + 4] = [float(top.yes), float(top.no), ts, eid]
    return s


def _emission(key_val: int, s: tuple, freshness_us: int, threshold: float) -> pd.DataFrame:
    has_opp, typ, kp, pp, margin = _decide(s, freshness_us, threshold)
    return pd.DataFrame(
        {
            "pair_id": [key_val],
            "has_opp": [has_opp],
            "arbitrage_type": [typ],
            "kalshi_price": [kp],
            "poly_price": [pp],
            "profit_margin": [margin],
        }
    )


def make_scan_fn(
    freshness_us: int = FRESHNESS_US_DEFAULT, threshold: float = THRESHOLD_DEFAULT
) -> Callable[..., Iterator[pd.DataFrame]]:
    """Build the applyInPandasWithState function: fold the batch's quotes
    into latest-per-venue state by (ts_us, event_id), then emit the pair's
    current decision."""

    def scan_fn(
        key: tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        s = list(state.get) if state.exists else list(_EMPTY_STATE)
        s = _fold_batches(s, pdfs)
        state.update(tuple(s))
        yield _emission(key[0], tuple(s), freshness_us, threshold)

    return scan_fn


def opportunity_stream(
    quotes: DataFrame,
    pairs: DataFrame,
    freshness_us: int = FRESHNESS_US_DEFAULT,
    threshold: float = THRESHOLD_DEFAULT,
) -> DataFrame:
    """quotes ⋈ broadcast(pairs) → stateful latest-per-key scan.
    The broadcast join runs map-side before the state shuffle (J2)."""
    mapped = quotes.join(F.broadcast(pairs), "pair_id")
    return mapped.groupBy("pair_id").applyInPandasWithState(
        make_scan_fn(freshness_us, threshold),
        outputStructType=OPPORTUNITY_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_scan_lane(
    opportunities: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Trading-lane sink: each micro-batch's decisions appended with the
    batch id, so `final_opportunities` can reconstruct last-per-pair
    (W4's ring buffer becomes a retention policy on this table).
    `available_now=False` runs continuously for unbounded sources."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink_dir)
        )

    writer = (
        opportunities.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def final_opportunities(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Last emission per pair = final state; keep confirmed opportunities.
    (A later has_opp=False emission retracts an earlier opportunity.)"""
    from pyspark.sql import Window

    emissions = spark.read.parquet(sink_dir)
    w = Window.partitionBy("pair_id").orderBy(F.col("batch_id").desc())
    return (
        emissions.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & F.col("has_opp"))
        .select("pair_id", "arbitrage_type", "kalshi_price", "poly_price", "profit_margin")
    )


# ---------------------------------------------------------------------------
# A6/T2 in streaming form: watermarked tumbling-window downsample
# ---------------------------------------------------------------------------


def downsample_stream(
    snapshots: DataFrame, every: str = "1 minute", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming `aggregateWindow(every:..., fn: last)` (A6,
    `etl/query.py:146-157`) with a watermark (T2): tumbling event-time
    windows per event_type, last value by (ts, event_id) via max_by —
    deterministic, unlike first/last in a shuffle. Append mode: a window
    emits exactly once, when the watermark passes its end — the late-data
    policy the reference approximates with its 60 s staleness gate."""
    return (
        snapshots.withWatermark("ts", watermark)
        .groupBy(F.window("ts", every).alias("win"), "event_type")
        .agg(
            F.max_by("value", F.struct("ts_us", "event_id")).alias("last_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "last_value",
            "n_events",
        )
    )


def sliding_rate_stream(
    snapshots: DataFrame,
    size: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Overlapping (sliding) event-time windows — the monitoring shape the
    reference approximates with its trailing-50 in-memory counters
    (`database/influx/writer.py:591-599`): per venue, event rate and
    integer-cents value volume over a 10-minute window sliding every 5.
    Each row lands in size/slide = 2 windows, assigned map-side (no
    duplication shuffle); append mode emits a window exactly once when
    the watermark passes its end. Exactness: count + int64 cents sum, so
    overlapping-window recomputation cannot drift."""
    cents = F.expr("cast(round(value * 100) as bigint)")
    return (
        snapshots.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size, slide).alias("win"), "source")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("value_cents"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "source",
            "n_events",
            "value_cents",
        )
    )
