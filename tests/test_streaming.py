"""Streaming-layer tests (SURVEY §2.9 / §5).

Golden test #1 is the reference's own scanner demo scenario
(`virginia/logic/opportunity_scanner.py:659-724`): Kalshi yes_bid 45¢ /
no_bid 47¢ vs Polymarket yes $0.40 / no $0.60 ⇒ YES-side margin
(0.45-0.40)/0.40 = 12.5% > 2% threshold ⇒ one kalshi_yes_polymarket_no
opportunity. The oracle-parity checks of the full replay pipeline live in
the driver contract (operators/streaming_queries.py); here we test the
semantics that SQL can't see: micro-batch folding, retraction, freshness
gating, bifurcation, and sustained throughput.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from financial_arbitrage_data_pipeline_spark.sources.tables import load_table
from financial_arbitrage_data_pipeline_spark.streaming import ingest, scan

HOUR_US = 3_600_000_000


def _write_quote_chunks(path: str, chunks: list[list[tuple]]) -> None:
    """Each chunk = one micro-batch of quote rows
    (pair_id, venue, yes, no, ts_us, event_id)."""
    os.makedirs(path, exist_ok=True)
    cols = ["pair_id", "venue", "yes", "no", "ts_us", "event_id"]
    for i, rows in enumerate(chunks):
        pdf = pd.DataFrame(rows, columns=cols).astype(
            {"pair_id": "int64", "yes": "float64", "no": "float64",
             "ts_us": "int64", "event_id": "int64"}
        )
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(path, f"chunk-{i:04d}.parquet"))


def _run_scan(spark, tmp_path, chunks, pairs_ids, freshness_us=HOUR_US):
    qdir = str(tmp_path / "quotes")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _write_quote_chunks(qdir, chunks)
    quotes = (
        spark.readStream.schema(scan.QUOTE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    pairs = spark.createDataFrame([(p,) for p in pairs_ids], "pair_id long")
    q = scan.start_scan_lane(
        scan.opportunity_stream(quotes, pairs, freshness_us=freshness_us),
        sink,
        ckpt,
    )
    q.awaitTermination()
    emissions = spark.read.parquet(sink)
    final = scan.final_opportunities(spark, sink)
    return emissions, final


def test_golden_scanner_demo(spark, tmp_path):
    """The reference's hand-built demo scenario, replayed as a stream."""
    chunks = [
        [(1, "kalshi", 0.45, 0.47, 1_000_000, 1)],
        [(1, "polymarket", 0.40, 0.60, 2_000_000, 2)],
    ]
    _, final = _run_scan(spark, tmp_path, chunks, [1])
    rows = final.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.arbitrage_type == "kalshi_yes_polymarket_no"
    assert r.kalshi_price == 0.45 and r.poly_price == 0.40
    assert r.profit_margin == pytest.approx(0.125)


def test_one_sided_state_emits_nothing(spark, tmp_path):
    """Pair incomplete (only one venue seen) → no opportunity (F9/F5)."""
    chunks = [[(1, "kalshi", 0.45, 0.47, 1_000_000, 1)]]
    emissions, final = _run_scan(spark, tmp_path, chunks, [1])
    assert final.count() == 0
    assert emissions.filter(F.col("has_opp")).count() == 0


def test_freshness_gate_drops_stale_side(spark, tmp_path):
    """Both venues present but quotes further apart than the freshness
    horizon → gated out (T2/F5, `opportunity_scanner.py:330-344`)."""
    chunks = [
        [(1, "kalshi", 0.45, 0.47, 1_000_000, 1)],
        [(1, "polymarket", 0.40, 0.60, 1_000_000 + 2 * HOUR_US, 2)],
    ]
    _, final = _run_scan(spark, tmp_path, chunks, [1], freshness_us=HOUR_US)
    assert final.count() == 0


def test_newer_quote_retracts_opportunity(spark, tmp_path):
    """Latest-per-key semantics (T3/W3): a newer Kalshi quote that kills
    the margin must retract the earlier opportunity — last emission per
    pair has has_opp=False."""
    chunks = [
        [
            (1, "kalshi", 0.45, 0.47, 1_000_000, 1),
            (1, "polymarket", 0.40, 0.60, 2_000_000, 2),
        ],
        [(1, "kalshi", 0.40, 0.60, 3_000_000, 3)],  # margin gone
    ]
    emissions, final = _run_scan(spark, tmp_path, chunks, [1])
    assert emissions.filter(F.col("has_opp")).count() == 1  # batch 0 had it
    assert final.count() == 0  # batch 1 retracted it


def test_out_of_order_arrival_same_final_state(spark, tmp_path):
    """The fold is by (event_time, event_id), not arrival: replaying the
    chunks in reverse arrival order yields the same final decision."""
    a = [(1, "kalshi", 0.45, 0.47, 1_000_000, 1),
         (1, "polymarket", 0.40, 0.60, 2_000_000, 2)]
    b = [(1, "kalshi", 0.30, 0.55, 5_000_000, 3)]  # the true latest: no opp
    # (yes_ok: 0.40 < 0.30 false; no_ok: 0.60 < 0.55 false)
    _, fwd = _run_scan(spark, tmp_path / "fwd", [a, b], [1])
    _, rev = _run_scan(spark, tmp_path / "rev", [b, a], [1])
    assert fwd.count() == rev.count() == 0


def test_unmapped_pair_never_enters_state(spark, tmp_path):
    """J2: quotes for keys outside the pair universe are dropped by the
    broadcast join before the state shuffle."""
    chunks = [
        [(99, "kalshi", 0.45, 0.47, 1_000_000, 1),
         (99, "polymarket", 0.40, 0.60, 2_000_000, 2)],
    ]
    emissions, final = _run_scan(spark, tmp_path, chunks, [1])
    assert emissions.count() == 0 and final.count() == 0


def _plan_node_names(node) -> list[str]:
    kids = node.children()
    return [node.nodeName()] + [
        n for i in range(kids.size()) for n in _plan_node_names(kids.apply(i))
    ]


def test_scan_lane_is_a_native_state_store_aggregation(spark, tmp_path):
    """The lane's executed plan is an engine streaming aggregation — a
    StateStoreSave and no Python exec node, so no Python worker runs —
    and update mode emits exactly one row per pair a batch touches."""
    qdir = str(tmp_path / "quotes")
    sink = str(tmp_path / "sink")
    _write_quote_chunks(
        qdir,
        [
            [(1, "kalshi", 0.45, 0.47, 1_000_000, 1),
             (2, "kalshi", 0.45, 0.47, 1_000_000, 2)],
            [(1, "polymarket", 0.40, 0.60, 2_000_000, 3),
             (1, "polymarket", 0.41, 0.60, 2_500_000, 4)],
        ],
    )
    quotes = (
        spark.readStream.schema(scan.QUOTE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    pairs = spark.createDataFrame([(1,), (2,)], "pair_id long")
    q = scan.start_scan_lane(
        scan.opportunity_stream(quotes, pairs), sink, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    names = _plan_node_names(q._jsq.streamingQuery().lastExecution().executedPlan())
    assert "StateStoreSave" in names, names
    python = [n for n in names if "Python" in n or "Pandas" in n or "Arrow" in n]
    assert not python, names
    rows = spark.read.parquet(sink).collect()
    assert sorted((r.batch_id, r.pair_id) for r in rows) == [(0, 1), (0, 2), (1, 1)]
    (last,) = [r for r in rows if r.batch_id == 1]
    assert last.has_opp and last.poly_price == 0.41  # the batch's latest quote


def test_bifurcation_both_lanes(spark, sf_dir, tmp_path):
    """T4: one replay source feeds the storage lane (partitioned
    market_snapshot table) and the trading lane (stateful scan); both
    complete and the storage lane preserves every input row exactly once."""
    replay_dir = str(tmp_path / "replay")
    n = ingest.write_replay_chunks(spark, sf_dir, replay_dir, n_chunks=3)
    storage_dir = str(tmp_path / "market_snapshot")
    ckpt_root = str(tmp_path / "ckpt")
    sink = str(tmp_path / "opps")

    def trading_lane(enriched):
        quotes = scan.quotes_from_snapshots(enriched)
        pairs = scan.pair_universe(spark, sf_dir)
        return scan.start_scan_lane(
            scan.opportunity_stream(quotes, pairs),
            sink,
            os.path.join(ckpt_root, "scan"),
        )

    storage_q, trading_q = ingest.start_bifurcated_ingest(
        spark, replay_dir, storage_dir, ckpt_root, trading_lane
    )
    storage_q.awaitTermination()
    trading_q.awaitTermination()

    snap = spark.read.parquet(storage_dir)
    assert snap.count() == n
    assert snap.select("event_id").distinct().count() == n
    # partitioned by source (K1's 2-tag design)
    assert sorted(p.source for p in snap.select("source").distinct().collect()) == [
        "kalshi",
        "polymarket",
    ]
    # timing chain stamped and ordered (P1/P2)
    bad = snap.filter(
        ~(
            (F.col("api_call_start_ns") < F.col("virginia_received_ns"))
            & (F.col("virginia_received_ns") < F.col("virginia_enriched_ns"))
        )
    )
    assert bad.count() == 0


def test_ingest_throughput_anchor(spark, sf_dir, tmp_path):
    """BASELINE.md anchor: sustain >=100 snapshot-rows/s through
    ingest→enrich→sink (the reference's ~93 msg/s average). Measured over
    the storage lane's micro-batch execution time, not JVM startup."""
    replay_dir = str(tmp_path / "replay")
    n = ingest.write_replay_chunks(spark, sf_dir, replay_dir, n_chunks=2)
    q = ingest.start_storage_lane(
        ingest.enrich_snapshots(ingest.replay_stream(spark, replay_dir)),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    progress = q.recentProgress
    total_rows = sum(p["numInputRows"] for p in progress)
    total_ms = sum(p["durationMs"]["triggerExecution"] for p in progress)
    assert total_rows == n
    assert total_rows / (total_ms / 1000.0) >= 100, (total_rows, total_ms)


# ---------------------------------------------------------------------------
# T7: session liveness with event-time timeout eviction
# ---------------------------------------------------------------------------
def _write_heartbeat_chunks(path, chunks):
    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(chunks):
        pdf = pd.DataFrame(rows, columns=["subscriber_id", "ts"])
        pdf["subscriber_id"] = pdf["subscriber_id"].astype("int64")
        # µs precision: ns-precision parquet would hit the session's
        # nanosAsLong legacy read path and come back as INT64
        pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s").astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(path, f"chunk-{i:04d}.parquet"))


def test_liveness_evicts_silent_subscriber(spark, tmp_path):
    """T7 (`virginia/broker/publisher.py:224-320`): subscriber A stops
    heartbeating and is evicted when the watermark passes last_seen+ttl;
    B keeps beating and stays active."""
    from financial_arbitrage_data_pipeline_spark.streaming import liveness

    hb_dir = str(tmp_path / "hb")
    sink = str(tmp_path / "sink")
    # base offset keeps t>0: rows at exactly the initial watermark (epoch
    # 0) would be dropped as late data
    t0 = 10_000
    _write_heartbeat_chunks(
        hb_dir,
        [
            [(1, t0), (2, t0)],      # A and B at t0
            [(2, t0 + 100)],         # only B; watermark -> t0 during this batch
            [(2, t0 + 200)],         # only B; watermark -> t0+100, A deadline t0+50 passes
        ],
    )
    hb = (
        spark.readStream.schema(liveness.HEARTBEAT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(hb_dir)
    )
    out = liveness.liveness_stream(hb, ttl_seconds=50)

    def write_batch(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)

    q = (
        out.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = {r.subscriber_id: r for r in liveness.final_liveness(spark, sink).collect()}
    assert final[1].status == "evicted"
    assert final[2].status == "active"
    assert final[2].n_heartbeats == 3
    assert final[1].n_heartbeats == 1


def test_checkpoint_restart_preserves_state_and_exactly_once(spark, tmp_path):
    """T6: stop the scan after batch 1, then restart from the same
    checkpoint with new chunks present. The file source must not reread
    chunk 1 (exactly-once) and the state store must carry the Kalshi
    quote across the restart — the opportunity appears only when the
    Polymarket leg arrives in run 2."""
    qdir = str(tmp_path / "quotes")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    pairs = spark.createDataFrame([(1,)], "pair_id long")

    def run():
        quotes = (
            spark.readStream.schema(scan.QUOTE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(qdir)
        )
        q = scan.start_scan_lane(
            scan.opportunity_stream(quotes, pairs, freshness_us=HOUR_US), sink, ckpt
        )
        q.awaitTermination()

    # run 1: only the kalshi leg exists
    _write_quote_chunks(qdir, [[(1, "kalshi", 0.45, 0.47, 1_000_000, 1)]])
    run()
    emissions1 = spark.read.parquet(sink)
    assert emissions1.count() == 1 and emissions1.filter(F.col("has_opp")).count() == 0

    # run 2: the polymarket leg lands; restart from the same checkpoint
    _write_quote_chunks(
        qdir, [[], [(1, "polymarket", 0.40, 0.60, 2_000_000, 2)]]  # chunk-0001
    )
    run()
    final = scan.final_opportunities(spark, sink).collect()
    assert len(final) == 1
    assert final[0].profit_margin == pytest.approx(0.125)  # state crossed restart
    # chunk-0000 was not reprocessed: exactly one emission per batch
    emissions = spark.read.parquet(sink)
    assert emissions.count() == 2


def test_redelivered_replay_contains_cross_batch_duplicates(spark, sf_dir, tmp_path):
    """The at-least-once replay writer must actually duplicate the %7 id
    class (otherwise streaming_dedup_ingest proves nothing), and the
    duplicates must land in a LATER chunk than their originals."""
    from financial_arbitrage_data_pipeline_spark.operators.streaming_queries import (
        _write_redelivered_chunks,
    )

    out = str(tmp_path / "replay")
    _write_redelivered_chunks(spark, sf_dir, out, n_chunks=4)
    all_rows = spark.read.parquet(out)
    n_total = all_rows.count()
    n_unique = all_rows.select("event_id").distinct().count()
    assert n_total > n_unique  # duplicates exist
    dup_ids = (
        all_rows.groupBy("event_id")
        .count()
        .filter(F.col("count") > 1)
        .select("event_id")
    )
    # every duplicated id is in the redelivered class, and every
    # duplicate pair spans two distinct chunk files
    assert dup_ids.filter(F.col("event_id") % 7 != 0).count() == 0
    import glob
    import os

    per_chunk_ids = [
        {r.event_id for r in spark.read.parquet(c).select("event_id").collect()}
        for c in sorted(glob.glob(os.path.join(out, "chunk-*.parquet")))
    ]
    flat = [i for s in per_chunk_ids for i in s]
    assert len(flat) == n_total  # no within-chunk duplicates


def test_pair_performance_upserter_skips_redelivered_batches(spark, sf_dir, tmp_path):
    """The at-least-once guard, end to end: applying the same batch id
    twice (and any batch id at or below the committed one) merges
    exactly once; a NEW batch id still merges. Uses the SHIPPED batch
    handler."""
    from financial_arbitrage_data_pipeline_spark.operators.streaming_queries import (
        make_pair_perf_upserter,
    )
    from financial_arbitrage_data_pipeline_spark.operators.upsert import read_merge_table

    table = str(tmp_path / "pair_perf")
    upsert = make_pair_perf_upserter(spark, table)
    batch = spark.createDataFrame(
        [(1, 7, "purchase", 0.50), (2, 7, "purchase", 0.25), (3, 8, "purchase", 0.10)],
        "event_id long, user_id long, event_type string, value double",
    )

    upsert(batch, 0)
    once = {r.pair_id: r.total_trades for r in read_merge_table(spark, table).collect()}
    assert once == {7: 2, 8: 1}

    upsert(batch, 0)  # redelivery of the same batch id
    upsert(batch, -1)  # and of an older one
    again = {r.pair_id: r.total_trades for r in read_merge_table(spark, table).collect()}
    assert again == once  # nothing double-applied

    upsert(batch, 1)  # a genuinely new batch DOES merge
    final = {r.pair_id: r.total_trades for r in read_merge_table(spark, table).collect()}
    assert final == {7: 4, 8: 2}


def test_storage_lane_reports_observed_counters(spark, sf_dir, tmp_path):
    """The ingest lane's health counters (the reference's message/latency
    counters) must surface through the streaming progress API — computed
    inside the running plan, not by re-scanning the sink."""
    replay_dir = str(tmp_path / "replay")
    n = ingest.write_replay_chunks(spark, sf_dir, replay_dir, n_chunks=2)
    q = ingest.start_storage_lane(
        ingest.enrich_snapshots(ingest.replay_stream(spark, replay_dir)),
        str(tmp_path / "snap"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    observed = [
        p["observedMetrics"]["ingest_counters"]
        for p in (q.recentProgress or [])
        if p.get("observedMetrics", {}).get("ingest_counters")
    ]
    assert observed, "no observedMetrics in any batch progress"
    assert sum(m["n_rows"] for m in observed) == n
    # transport stamp is a fixed +1ms per row — the counter proves the
    # timing-chain arithmetic ran over every row
    assert all(m["total_transport_ns"] == m["n_rows"] * 1_000_000 for m in observed)


def test_batch_observation_counts_without_second_scan(spark, sf_dir):
    """Same counters in batch form via pyspark.sql.Observation."""
    from pyspark.sql import Observation

    src = ingest.enrich_snapshots(
        load_table(spark, sf_dir, "events").select(
            "event_id",
            F.expr("ts div 1000").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
    )
    obs = Observation("ingest_counters")
    observed_df = src.observe(
        obs, F.count(F.lit(1)).alias("n_rows"), F.max("ts_us").alias("max_ts_us")
    )
    n_written = observed_df.count()
    assert obs.get["n_rows"] == n_written


def test_transient_sink_failure_then_restart_is_exactly_once(spark, sf_dir, tmp_path):
    """T6 retry hardening: a micro-batch that DIES mid-flight (transient
    failure injected into the lane while earlier batches already
    committed) must, after a checkpoint-restart of the SAME lane over
    the SAME output dir, deliver every input row exactly once — the
    file-sink commit log hides any partial files the failed attempt
    left behind. This converts the 'checkpoint + exactly-once file sink'
    equivalence argument in start_storage_lane's contract into an
    executed proof."""
    import glob

    import pyarrow.parquet as _pq
    from pyspark.sql.utils import StreamingQueryException

    replay_dir = str(tmp_path / "replay")
    n = ingest.write_replay_chunks(spark, sf_dir, replay_dir, n_chunks=4)

    # trigger: the first ts of the third chunk — batches 0 and 1 commit,
    # batch 2's delivery crashes once
    trigger_ts = min(
        _pq.read_table(os.path.join(replay_dir, "chunk-0002.parquet"))
        .column("ts_us")
        .to_pylist()
    )
    sentinel = str(tmp_path / "crashed_once")

    def crash_once_kernel(batches):
        for pdf in batches:
            if (pdf["ts_us"] >= trigger_ts).any() and not os.path.exists(sentinel):
                try:
                    with open(sentinel, "x") as fh:
                        fh.write("boom")
                except FileExistsError:
                    pass
                raise RuntimeError("injected transient sink failure")
            yield pdf

    def lane():
        src = ingest.replay_stream(spark, replay_dir)
        wobbly = src.mapInPandas(crash_once_kernel, ingest.REPLAY_SCHEMA)
        return ingest.start_storage_lane(
            ingest.enrich_snapshots(wobbly),
            str(tmp_path / "market_snapshot"),
            str(tmp_path / "ckpt"),
        )

    q = lane()
    with pytest.raises(StreamingQueryException, match="transient sink failure"):
        q.awaitTermination()
    assert os.path.exists(sentinel)  # the failure really fired
    committed_before = spark.read.parquet(str(tmp_path / "market_snapshot")).count()
    assert 0 < committed_before < n  # mid-stream: some batches landed, not all

    # restart from the checkpoint: the failed batch replays, the rest follow
    q2 = lane()
    q2.awaitTermination()

    snap = spark.read.parquet(str(tmp_path / "market_snapshot"))
    assert snap.count() == n
    assert snap.select("event_id").distinct().count() == n
    # the sink-log is what guarantees this: raw file listing may carry
    # orphan files from the aborted attempt, the committed view never does
    raw_files = glob.glob(
        os.path.join(str(tmp_path / "market_snapshot"), "source=*", "*.parquet")
    )
    assert len(raw_files) >= 1


def test_observe_metrics_on_storage_lane(spark, sf_dir, tmp_path):
    """Observability: the `observe` API must surface per-batch row
    counts on a streaming lane (the engine-metrics story the reference
    implements with hand-rolled counters, e.g. its rolling writer stats
    at database/influx/writer.py:591-599)."""
    import os

    from pyspark.sql import Observation, functions as F

    from financial_arbitrage_data_pipeline_spark.streaming import ingest

    replay_dir = str(tmp_path / "replay")
    n_rows = ingest.write_replay_chunks(spark, sf_dir, replay_dir, n_chunks=2)
    stream = ingest.replay_stream(spark, replay_dir).observe(
        "lane_metrics", F.count(F.lit(1)).alias("rows"), F.max("ts_us").alias("max_ts")
    )
    seen = []

    from pyspark.sql.streaming import StreamingQueryListener

    class L(StreamingQueryListener):
        def onQueryStarted(self, e):  # noqa: N802
            pass

        def onQueryProgress(self, e):  # noqa: N802
            row = e.progress.observedMetrics.get("lane_metrics")
            if row is not None:
                seen.append(row.asDict())

        def onQueryIdle(self, e):  # noqa: N802
            pass

        def onQueryTerminated(self, e):  # noqa: N802
            pass

    listener = L()
    spark.streams.addListener(listener)
    try:
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener delivery is asynchronous; give it a beat
        import time

        for _ in range(40):
            if sum(m["rows"] for m in seen) >= n_rows:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)
    assert sum(m["rows"] for m in seen) == n_rows
    assert all(m["max_ts"] is not None for m in seen)


def test_book_depth_upserter_additive_and_redelivery_safe(spark, sf_dir, tmp_path):
    """The live-book upserter: adds and cancels net additively across
    batches (a later batch can flip a level's sign), redelivered batch
    ids merge exactly once, and a new batch id still merges. Uses the
    SHIPPED batch handler."""
    from financial_arbitrage_data_pipeline_spark.operators.streaming_queries import (
        make_book_depth_upserter,
    )
    from financial_arbitrage_data_pipeline_spark.operators.upsert import read_merge_table

    table = str(tmp_path / "book_depth")
    upsert = make_book_depth_upserter(spark, table)
    # qty = event_id % 7 + 1; side = parity; level = cents div 1000
    batch1 = spark.createDataFrame(
        [
            (2, 7, "view", 50.00),       # bid L5 +3
            (4, 7, "signup", 50.00),     # bid L5 +5 -> net +8
            (1, 7, "error", 70.00),      # ask L7 -2 (cancel with nothing)
        ],
        "event_id long, user_id long, event_type string, value double",
    )
    upsert(batch1, 0)

    def state():
        return {
            (r.market_id, r.side, r.level): r.net
            for r in read_merge_table(spark, table).collect()
        }

    once = state()
    assert once == {(7, "bid", 5): 8, (7, "ask", 7): -2}

    upsert(batch1, 0)   # redelivery
    upsert(batch1, -3)  # older id
    assert state() == once

    batch2 = spark.createDataFrame(
        [(6, 7, "error", 50.00)],  # bid L5 cancel 7 -> net +1
        "event_id long, user_id long, event_type string, value double",
    )
    upsert(batch2, 1)
    assert state() == {(7, "bid", 5): 1, (7, "ask", 7): -2}
