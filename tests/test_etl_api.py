"""Tests for the user-facing ETL API surface (§3.4) — the pandas
presentation layer and argument handling the oracle queries don't cover,
and the cost of one analyst request (jobs per request, py4j round trips
per plan build)."""

from __future__ import annotations

import gc
import itertools

import pandas as pd
import pytest
from pyspark.sql import functions as F

import financial_arbitrage_data_pipeline_spark.operators  # noqa: F401
from financial_arbitrage_data_pipeline_spark import etl
from financial_arbitrage_data_pipeline_spark.plans import REGISTRY

# date range with hour offsets on both ends (F4); inside the testdata month
RANGE = {
    "start_date": "2024-01-05",
    "end_date": "2024-01-25",
    "start_hours": 6,
    "end_hours": -6,
}


def _ticker(snap, source):
    return snap.filter(F.col("source") == source).select("ticker").first().ticker


@pytest.fixture(scope="module")
def stored_snap(spark, sf_dir, tmp_path_factory):
    """The snapshot table as the storage lane lays it out: parquet
    partitioned by `source`. Written from hash partitions on `ts`, so a
    scan returns each ticker's rows out of time order and the driver
    sort in get_ticker_data has work to do."""
    path = str(tmp_path_factory.mktemp("etl_snap") / "market_snapshot")
    snap = etl.build_snapshot_table(spark, sf_dir).repartition(3, "ts")
    snap.write.partitionBy("source").parquet(path)
    return spark.read.parquet(path)


def _pair_key(spark, sf_dir):
    full = REGISTRY["pair_margin_timeline"].builder(spark, sf_dir)
    return full.select("pair_key").first().pair_key


def _assert_identical(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Same index, columns, dtypes and values, row for row, bit for bit."""
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    for c in want.columns:
        assert got[c].to_numpy().tobytes() == want[c].to_numpy().tobytes(), c


def test_get_ticker_data_pandas_shape(spark, sf_dir):
    snap = etl.build_snapshot_table(spark, sf_dir)
    pdf = etl.get_ticker_data(snap, ticker=_ticker(snap, "kalshi"), exchange="kalshi")
    assert isinstance(pdf, pd.DataFrame)
    assert pdf.index.name == "timestamp"
    assert str(pdf.index.tz) == "America/Chicago"
    assert list(pdf.columns) == ["yes_price", "no_price"]
    assert len(pdf) > 0
    assert pdf.index.is_monotonic_increasing
    # yes/no complement holds on the kalshi branch
    assert ((pdf.yes_price + pdf.no_price - 1.0).abs() < 1e-12).all()


def test_available_tickers_source_filter(spark, sf_dir):
    snap = etl.build_snapshot_table(spark, sf_dir)
    all_t = etl.available_tickers(snap).collect()
    kalshi_t = etl.available_tickers(snap, source="kalshi").collect()
    assert 0 < len(kalshi_t) < len(all_t)
    assert all(r.source == "kalshi" for r in kalshi_t)
    # every kalshi ticker is an even user id (fixture derivation)
    assert all(int(r.ticker) % 2 == 0 for r in kalshi_t)


def test_period_downsample_reduces_rows(spark, sf_dir):
    snap = etl.build_snapshot_table(spark, sf_dir)
    t = _ticker(snap, "kalshi")
    raw = etl.ticker_data(snap, t, "kalshi").count()
    down = etl.ticker_data(snap, t, "kalshi", period="1 day").count()
    assert 0 < down < raw


def test_pair_history_matches_timeline_query(spark, sf_dir):
    """pair_history(key) must equal the pair_margin_timeline rows for
    that key (same derivation, parameterized + pre-filtered)."""
    full = REGISTRY["pair_margin_timeline"].builder(spark, sf_dir)
    keys = [r.pair_key for r in full.select("pair_key").distinct().limit(3).collect()]
    assert keys
    for key in keys:
        want = {
            (r.bucket_us, r.kalshi_yes_bid, r.poly_yes, r.margin_yes)
            for r in full.filter(F.col("pair_key") == key).collect()
        }
        got = {
            (r.bucket_us, r.kalshi_yes_bid, r.poly_yes, r.margin_yes)
            for r in etl.pair_history(spark, sf_dir, key).collect()
        }
        assert got == want


def test_get_pair_history_is_tz_indexed(spark, sf_dir):
    key = _pair_key(spark, sf_dir)
    pdf = etl.get_pair_history(spark, sf_dir, key, period_s=86400)
    assert pdf.index.name == "timestamp"
    assert str(pdf.index.tz) == "America/Chicago"
    assert set(pdf.columns) == {"kalshi_yes_bid", "poly_yes", "margin_yes"}
    assert pdf.index.is_monotonic_increasing


@pytest.mark.parametrize("period", [None, "6 hours"])
@pytest.mark.parametrize("exchange", ["kalshi", "polymarket"])
def test_get_ticker_data_equals_sorted_ticker_data(stored_snap, exchange, period):
    """get_ticker_data sorts on the driver; ticker_data sorts in Spark.
    Both must give the same frame, in the same order."""
    t = _ticker(stored_snap, exchange)
    got = etl.get_ticker_data(stored_snap, t, exchange, period=period, **RANGE)
    want = etl.ticker_data(stored_snap, t, exchange, period=period, **RANGE).toPandas()
    want["timestamp"] = want["ts"].dt.tz_localize("UTC").dt.tz_convert(etl.CHICAGO)
    want = want.drop(columns=["ts"]).set_index("timestamp")
    assert len(want) > 1
    assert got.index.is_monotonic_increasing
    _assert_identical(got, want)


def test_get_pair_history_equals_sorted_pair_history(spark, sf_dir):
    key = _pair_key(spark, sf_dir)
    got = etl.get_pair_history(spark, sf_dir, key, period_s=21600)
    want = etl.pair_history(spark, sf_dir, key, period_s=21600).toPandas()
    ts = pd.to_datetime(want["bucket_us"], unit="us", utc=True)
    want["timestamp"] = ts.dt.tz_convert(etl.CHICAGO)
    want = want.drop(columns=["bucket_us"]).set_index("timestamp")
    assert len(want) > 1
    _assert_identical(got, want)


_GROUPS = itertools.count()


def _jobs_of(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"etl-request-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_etl_requests_run_one_scan_per_request(spark, sf_dir, stored_snap):
    """An analyst request is one scan of the snapshots: get_ticker_data
    collects the unsorted series and sorts it on the driver, so a raw
    series is one job and a downsampled one two (the window shuffle);
    get_pair_history is two (the bucket shuffle). A Spark orderBy before
    the collect adds a range-sampling job (a second scan and JSON parse)
    and a shuffle."""
    t = _ticker(stored_snap, "kalshi")
    key = _pair_key(spark, sf_dir)
    raw = _jobs_of(spark, lambda: etl.get_ticker_data(stored_snap, t, "kalshi", **RANGE))
    period = _jobs_of(
        spark, lambda: etl.get_ticker_data(stored_snap, t, "kalshi", period="1 hour")
    )
    pair = _jobs_of(spark, lambda: etl.get_pair_history(spark, sf_dir, key, period_s=3600))
    assert raw == 1, raw
    assert 0 < period <= 2, period
    assert 0 < pair <= 2, pair


def test_etl_builders_bounded_py4j_chatter(spark, sf_dir, stored_snap):
    """The venue normalization, the period downsample and
    market.margin_buckets are expr strings, so building a request's plan
    is a few py4j round trips per projection instead of one per Column
    node (the same mechanism test_r12_plans pins for the headline
    builders). Built from Column nodes, these three builds cost about
    1,700 calls; as expr strings, 564. Cap = ~2.5x the measured total."""
    from py4j.java_gateway import GatewayClient

    kt, pt = _ticker(stored_snap, "kalshi"), _ticker(stored_snap, "polymarket")
    key = _pair_key(spark, sf_dir)
    builds = {
        "kalshi": lambda: etl.ticker_data(stored_snap, kt, "kalshi", period="1 hour", **RANGE),
        "polymarket": lambda: etl.ticker_data(
            stored_snap, pt, "polymarket", period="1 hour", **RANGE
        ),
        "pair": lambda: etl.pair_history(spark, sf_dir, key, period_s=3600),
    }
    for build in builds.values():  # warm: imports, load_table memoization
        build()

    counter = {"n": 0}
    orig = GatewayClient.send_command

    def counted(self, *a, **k):
        counter["n"] += 1
        return orig(self, *a, **k)

    GatewayClient.send_command = counted
    try:
        per_build = {}
        for name, build in builds.items():
            gc.collect()  # release earlier py4j objects outside the count
            counter["n"] = 0
            build()
            per_build[name] = counter["n"]
    finally:
        GatewayClient.send_command = orig

    total = sum(per_build.values())
    # a zero total means the patched GatewayClient.send_command is no
    # longer the command path, not that the builders got free
    assert total > 0, (
        "py4j chatter counter registered zero calls — the patched "
        "GatewayClient.send_command is no longer the command path; "
        "re-baseline this test against the current py4j client class"
    )
    assert total <= 1400, f"etl plan-build chatter regressed: {per_build}"
