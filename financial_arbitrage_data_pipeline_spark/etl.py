"""The user-facing analytical ETL API — SURVEY §3.4, the reference's
`etl/query.py` surface re-expressed as DataFrame pipelines.

Reference signatures being reproduced:

- `get_available_tickers(source)` (`etl/query.py:22-75`): distinct
  (ticker, source) pairs in the snapshot store.
- `get_ticker_data(ticker, exchange, start_date, end_date, start_hours,
  end_hours, period)` (`etl/query.py:78-263`): time-range scan of one
  ticker's snapshots → JSON book parse → venue-specific yes/no price
  normalization (Kalshi: best yes level /100, no = 1-yes,
  `etl/query.py:186-202`; Polymarket: bid/ask midpoints with the
  direction swap at yes_mid > 0.5, `etl/query.py:204-238`) → optional
  tumbling-window last-value downsample (`aggregateWindow`,
  `etl/query.py:146-157`) → time sort → pandas result indexed by
  timestamp tz-converted to America/Chicago (`etl/query.py:107,178`).

The engine form: `ticker_data()` returns the DataFrame (composable,
collect-free, globally sorted by `orderBy("ts")`); `get_ticker_data()`
is the thin pandas-presentation wrapper matching the reference's return
type. The wrapper collects the UNSORTED series and sorts the pandas
frame on the driver (stable, on `ts`): the result is whole on the driver
anyway, and a Spark range sort would add a sampling job that re-scans
the snapshots and re-parses every JSON book, plus a shuffle.
`pair_history()`/`get_pair_history()` split the same way on
`bucket_us`. Filters land on the snapshot scan: on the table
ingest.start_storage_lane writes (partitioned by `source` only), the
source predicate prunes partitions and the ticker predicate is a pushed
row filter.

The venue normalization, the `period` downsample aggregates and
market.margin_buckets are built as SQL expression strings (the same
trees as the operators/orderbook.py Column helpers), so a request costs
a few py4j round trips per projection instead of one per Column node.
Caller-supplied values (ticker, exchange, dates, period, pair key) stay
Column literals or are `int()`-checked; none is spliced into SQL text.
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import KALSHI_BOOK, POLYMARKET_BOOK
from .sources.tables import load_table

CHICAGO = "America/Chicago"


# ---------------------------------------------------------------------------
# Deterministic market_snapshot fixture (testdata carries no book blobs)
# ---------------------------------------------------------------------------


def build_snapshot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → market_snapshot rows with venue-native JSON book blobs:
    Kalshi rows carry `{"yes": [[cents,qty],...], "no": [...]}`
    (`database/models/influx.py:330`), Polymarket rows carry
    `{"orderbook": {"bids": [{"price","size"},...], "asks": [...]}}`
    (`ireland/api/data_feed.py:29-56`). Book levels are pure functions of
    (value, event_id) so the DuckDB oracle can state the expected output
    without JSON."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    q1 = (F.col("event_id") % 50 + 1).cast("long")
    q2 = (F.col("event_id") % 31 + 1).cast("long")
    y1, y2 = cents % 97 + 1, cents % 89 + 1
    n1, n2 = cents % 83 + 1, cents % 79 + 1

    kalshi_book = F.to_json(
        F.struct(
            F.array(F.array(y1, q1), F.array(y2, q2)).alias("yes"),
            F.array(F.array(n1, q1), F.array(n2, q2)).alias("no"),
        )
    )
    level = lambda p, s: F.struct(  # noqa: E731
        (p.cast("double") / 100.0).alias("price"), s.cast("double").alias("size")
    )
    # the venue API delivers books best-first (`ireland/api/data_feed.py:81`
    # — the `bids[0]` contract): bids price-desc, asks price-asc
    poly_book = F.to_json(
        F.struct(
            F.struct(
                F.reverse(F.sort_array(F.array(level(y1, q1), level(y2, q2)))).alias("bids"),
                F.sort_array(F.array(level(n1 + 1, q1), level(n2 + 3, q2))).alias("asks"),
            ).alias("orderbook")
        )
    )
    is_kalshi = F.col("user_id") % 2 == 0
    return ev.select(
        F.when(is_kalshi, F.lit("kalshi")).otherwise(F.lit("polymarket")).alias("source"),
        F.col("user_id").cast("string").alias("ticker"),
        F.when(is_kalshi, kalshi_book).otherwise(poly_book).alias("full_orderbook"),
        F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
    )


# ---------------------------------------------------------------------------
# get_available_tickers (A4)
# ---------------------------------------------------------------------------


def available_tickers(snapshots: DataFrame, source: str | None = None) -> DataFrame:
    """Distinct tickers per source (`etl/query.py:22-75`, Flux
    `unique(column:"ticker")`). Not metadata-only: on the snapshot table
    (partitioned by `source` only) it is a scan of the `ticker` column,
    pruned to one source partition when `source` is given, plus one
    shuffle for the distinct — two jobs per collect. Unsorted."""
    df = snapshots.select("ticker", "source")
    if source is not None:
        df = df.filter(F.col("source") == source)
    return df.distinct()


# ---------------------------------------------------------------------------
# get_ticker_data (§3.4)
# ---------------------------------------------------------------------------

_KALSHI_BOOK_DDL = KALSHI_BOOK.simpleString()
_POLYMARKET_BOOK_DDL = POLYMARKET_BOOK.simpleString()


def _normalized_prices(source: str) -> list[str]:
    """Venue-specific yes/no normalization from the parsed book, as expr
    strings with the trees of the orderbook.py helpers: Kalshi is
    parse_kalshi_book → best_bid_cents → cents_to_dollars → yes_to_no;
    Polymarket is parse_polymarket_book → poly_midpoint → yes_to_no →
    direction_swap. One py4j round trip per column."""
    if source == "kalshi":
        book = f"from_json(full_orderbook, '{_KALSHI_BOOK_DDL}')"
        yes = f"CAST(array_max(transform({book}.yes, x -> x[0])) AS DOUBLE) / 100.0D"
        return [f"{yes} AS yes_price", f"1.0D - ({yes}) AS no_price"]
    book = f"from_json(full_orderbook, '{_POLYMARKET_BOOK_DDL}').orderbook"
    # yes_mid = midpoint of best bid / best ask (P4), no = 1 - yes (P6,
    # `etl/query.py:220`), orientation swap at yes_mid > 0.5 (P7)
    yes_mid = (
        f"(element_at({book}.bids, 1).price + element_at({book}.asks, 1).price) / 2.0D"
    )
    no_mid = f"1.0D - ({yes_mid})"
    swapped = (
        f"CASE WHEN ({yes_mid}) > 0.5D"
        f" THEN struct(({no_mid}) AS yes_price, ({yes_mid}) AS no_price)"
        f" ELSE struct(({yes_mid}) AS yes_price, ({no_mid}) AS no_price) END"
    )
    return [f"({swapped}).yes_price AS yes_price", f"({swapped}).no_price AS no_price"]


def _ticker_series(
    snapshots: DataFrame,
    ticker: str,
    exchange: str,
    start_date: datetime | str | None = None,
    end_date: datetime | str | None = None,
    start_hours: int = 0,
    end_hours: int = 0,
    period: str | None = None,
) -> DataFrame:
    """ticker_data without the sort: filter (F3/F4, pushed to the scan) →
    parse+normalize (P3-P7/P11) → optional tumbling-window last-value
    downsample (A6). Returns (ts, yes_price, no_price) in no order."""
    df = snapshots.filter(
        (F.col("ticker") == ticker) & (F.col("source") == exchange)
    )
    if start_date is not None:
        start = F.lit(start_date).cast("timestamp") + F.expr(
            f"INTERVAL {int(start_hours)} HOURS"
        )
        df = df.filter(F.col("ts") >= start)
    if end_date is not None:
        end = F.lit(end_date).cast("timestamp") + F.expr(f"INTERVAL {int(end_hours)} HOURS")
        df = df.filter(F.col("ts") <= end)

    norm = df.selectExpr("ts", *_normalized_prices(exchange))
    if period is None:
        return norm
    # aggregateWindow(every: period, fn: last, createEmpty: false); the
    # caller's period string stays a Column literal inside window()
    return (
        norm.groupBy(F.window("ts", period).alias("win"))
        .agg(
            F.expr("max_by(yes_price, struct(ts AS ts)) AS yes_price"),
            F.expr("max_by(no_price, struct(ts AS ts)) AS no_price"),
        )
        .selectExpr("win.start AS ts", "yes_price", "no_price")
    )


def ticker_data(
    snapshots: DataFrame,
    ticker: str,
    exchange: str,
    start_date: datetime | str | None = None,
    end_date: datetime | str | None = None,
    start_hours: int = 0,
    end_hours: int = 0,
    period: str | None = None,
) -> DataFrame:
    """The composable core of get_ticker_data: filter (F3/F4, pushed to
    the scan) → parse+normalize (P3-P7/P11) → optional tumbling-window
    last-value downsample (A6) → time sort (W1), a Spark `orderBy("ts")`.
    Returns (ts, yes_price, no_price)."""
    return _ticker_series(
        snapshots, ticker, exchange, start_date, end_date, start_hours, end_hours, period
    ).orderBy("ts")


def get_ticker_data(
    snapshots: DataFrame,
    ticker: str,
    exchange: str,
    **kwargs,
) -> pd.DataFrame:
    """Reference-shaped result: pandas DataFrame indexed by timestamp in
    America/Chicago (`etl/query.py:178,254-258`). Presentation only —
    analytical composition should use ticker_data(). Collects the
    unsorted series and sorts it on the driver (stable, on `ts`): the
    same rows in the same order as ticker_data(), one job for a raw
    series and two for a `period` one."""
    pdf = _ticker_series(snapshots, ticker, exchange, **kwargs).toPandas()
    pdf = pdf.sort_values("ts", kind="stable", ignore_index=True)
    pdf["timestamp"] = (
        pdf["ts"].dt.tz_localize("UTC").dt.tz_convert(CHICAGO)
    )
    return pdf.drop(columns=["ts"]).set_index("timestamp")


# ---------------------------------------------------------------------------
# get_pair_history — the cross-venue composition users build by hand
# ---------------------------------------------------------------------------


def _pair_buckets(
    spark: SparkSession,
    sf_dir: str,
    pair_key: int,
    period_s: int = 3600,
    start_us: int | None = None,
    end_us: int | None = None,
) -> DataFrame:
    """pair_history without the sort, in no order."""
    from .operators.market import margin_buckets

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") == pair_key)
    ts_us = F.expr("ts div 1000")
    if start_us is not None:
        ev = ev.filter(ts_us >= start_us)
    if end_us is not None:
        ev = ev.filter(ts_us <= end_us)
    return margin_buckets(ev, period_us=int(period_s) * 1_000_000).selectExpr(
        "bucket_us", "kalshi_yes_bid", "poly_yes", "margin_yes"
    )


def pair_history(
    spark: SparkSession,
    sf_dir: str,
    pair_key: int,
    period_s: int = 3600,
    start_us: int | None = None,
    end_us: int | None = None,
) -> DataFrame:
    """Cross-venue margin series for ONE pair: per `period_s` bucket, the
    last Kalshi yes-bid and last Polymarket yes within the bucket, and
    margin = (k - p)/p — the series the reference's users assemble from
    two separate `get_ticker_data` pulls plus pandas (`etl/query.py`
    gives them one venue at a time). Same venue-conditional max_by core
    as the `pair_margin_timeline` query, parameterized and pre-filtered
    so the pair predicate and time range push to the scan. Sorted by a
    Spark `orderBy("bucket_us")`."""
    return _pair_buckets(spark, sf_dir, pair_key, period_s, start_us, end_us).orderBy(
        "bucket_us"
    )


def get_pair_history(
    spark: SparkSession, sf_dir: str, pair_key: int, **kwargs
) -> pd.DataFrame:
    """Reference-shaped presentation of pair_history: pandas indexed by
    the bucket timestamp in America/Chicago, like get_ticker_data. Sorts
    the collected buckets on the driver (stable, on `bucket_us`); two
    jobs per call."""
    pdf = _pair_buckets(spark, sf_dir, pair_key, **kwargs).toPandas()
    pdf = pdf.sort_values("bucket_us", kind="stable", ignore_index=True)
    ts = pd.to_datetime(pdf["bucket_us"], unit="us", utc=True)
    pdf["timestamp"] = ts.dt.tz_convert(CHICAGO)
    return pdf.drop(columns=["bucket_us"]).set_index("timestamp")
