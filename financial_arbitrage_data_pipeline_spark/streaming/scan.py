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

Spark realization: a native streaming aggregation, so the lane runs
entirely in the JVM — no Python worker. Per pair_id the state is the
latest quote per venue, `max(struct(ts_us, event_id, yes, no))`: the fold
is by (event_time, event_id) — NOT arrival order — so results are
deterministic and independent of micro-batch boundaries. One projection
over the two latest quotes is the decision; the freshness gate compares
the two sides' event times (the replayable analog of the reference's
wall-clock age check; same gate, reproducible clock). Update output mode
emits one decision per pair touched per micro-batch.

Scale notes (100 TB stream): state is O(#pairs) × one key row plus two
4-field structs — about 214 bytes of state per pair on the HDFS-backed
provider (measured: 1,000 pairs → 213,888 bytes
`stateOnCurrentVersionSizeBytes`), so millions of pairs fit one executor,
and state is hash-partitioned on pair_id across the cluster. The
per-batch cost is a partial max, one shuffle of the batch's per-pair
partials on pair_id and the state merge; the pair-universe filter is a
broadcast stream-static join BEFORE the shuffle, so unmapped keys never
enter state (J2).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

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


def _latest(venue: str) -> Column:
    """The venue's newest quote by (ts_us, event_id): structs order field
    by field, so the max struct is the latest quote (NULL while unseen)."""
    return F.max(
        F.when(F.col("venue") == venue, F.struct("ts_us", "event_id", "yes", "no"))
    )


def _decision(latest: DataFrame, freshness_us: int, threshold: float) -> DataFrame:
    """`_detect_simple_arbitrage` (`opportunity_scanner.py:431-500`) as JVM
    expressions over `pair_id` and the latest quote per venue, `k` and `p`
    (struct(ts_us, event_id, yes, no), NULL while that venue is unseen).
    Spark doubles are IEEE like the oracle's, so margins are bit-identical.
    Every output but pair_id/has_opp is NULL when there is no opportunity."""
    take = "yes_ok AND (NOT no_ok OR margin_yes >= margin_no)"
    return (
        latest.selectExpr(
            "pair_id",
            "k",
            "p",
            f"abs(k.ts_us - p.ts_us) <= {freshness_us} AS fresh",
            "p.yes < k.yes AS yes_ok",
            "p.no < k.no AS no_ok",
            "(k.yes - p.yes) / p.yes AS margin_yes",
            "(k.no - p.no) / p.no AS margin_no",
        )
        .selectExpr(
            "*",
            f"{take} AS take_yes",
            f"IF({take}, margin_yes, margin_no) AS margin",
        )
        .selectExpr(
            "*",
            "coalesce(fresh AND (yes_ok OR no_ok) AND margin > "
            f"{threshold!r}D, false) AS has_opp",
        )
        .selectExpr(
            "pair_id",
            "has_opp",
            "CASE WHEN has_opp THEN IF(take_yes, 'kalshi_yes_polymarket_no', "
            "'kalshi_no_polymarket_yes') END AS arbitrage_type",
            "CASE WHEN has_opp THEN IF(take_yes, k.yes, k.no) END AS kalshi_price",
            "CASE WHEN has_opp THEN IF(take_yes, p.yes, p.no) END AS poly_price",
            "CASE WHEN has_opp THEN margin END AS profit_margin",
        )
    )


def opportunity_stream(
    quotes: DataFrame,
    pairs: DataFrame,
    freshness_us: int = FRESHNESS_US_DEFAULT,
    threshold: float = THRESHOLD_DEFAULT,
) -> DataFrame:
    """quotes ⋈ broadcast(pairs) → latest quote per venue per pair as a
    streaming aggregation → the pair's current decision. The broadcast
    join runs map-side before the state shuffle (J2)."""
    mapped = quotes.join(F.broadcast(pairs), "pair_id")
    latest = mapped.groupBy("pair_id").agg(
        _latest("kalshi").alias("k"), _latest("polymarket").alias("p")
    )
    return _decision(latest, freshness_us, threshold)


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
