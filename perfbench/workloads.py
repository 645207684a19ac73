"""The benchmark's workloads. Each has `setup(ctx)` (inputs, fixture and
warm-up ops, counted in `setup_s`), `measure(ctx, st, until, last)` (ops
until the perf-counter deadline; an open loop is called twice in a traced
run, untraced then traced), `finish(ctx, st)` (the final correctness check,
while the session runs) and `layers(ctx, st)` (the workload's own layer
numbers in a traced run, after the event log is read).

- arb_stream: the live arbitrage lanes. An open-loop feed lands one quote
  chunk per fixed interval into the replay directory that both the storage
  lane and the opportunity-scan lane read; then a backlog of chunks lands
  at once and both lanes drain it. The scan state, the Python boundary of
  `applyInPandasWithState` and the per-batch WAL/planning/commit costs do
  the work; `etl` and `upsert` do none.
- snapshot_queries: one closed-loop analyst calling the `etl` API on a
  `market_snapshot` table partitioned by source, tickers Zipf-skewed.
  Small scans, so plan build, py4j and Catalyst phases dominate; no
  streaming state and no writes.
- ticket_merge: one closed-loop client merging fill batches of seeded size
  into the bucketed ticket table with `upsert.apply_fills`, each merge
  followed by a status aggregate and a point lookup, so a faster merge
  that fragments the table shows up as slower reads.
"""

from __future__ import annotations

import glob
import json
import os
import time
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import datagen, oracle


def _progress_end(p: dict) -> float:
    """Epoch seconds at which a micro-batch finished."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def percentile(values, q: float) -> float:
    """The q-th percentile (linear interpolation), 0 for no values."""
    return float(np.percentile(values, q)) if len(values) else 0.0


def _du_mb(path: str) -> tuple[int, float]:
    """Parquet files under `path`: how many, and their MiB."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files) / 2**20


# ---------------------------------------------------------------------------
# arb_stream
# ---------------------------------------------------------------------------

FEED_INTERVAL_S = 0.25  # one quote chunk lands every 250 ms
CHUNK_ROWS_SF01 = 50  # 200 quotes/s at sf0.1, about twice the reference feed
WARMUP_FEED_S = 3.0  # the feed runs this long, unrecorded, before the window
BACKLOG_CHUNKS = 40
OPEN_LOOP_SHARE = 0.8  # of the window; the rest drains the backlog
FILES_PER_TRIGGER = 100_000  # a micro-batch takes every chunk landed so far


def _source_log(ckpt: str) -> dict[str, int]:
    """Chunk file name -> micro-batch id, from the file source's own
    metadata log in the query checkpoint."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if path.endswith(".tmp") or os.path.basename(path).startswith("."):
            continue
        try:
            with open(path) as fh:
                lines = fh.read().splitlines()[1:]  # first line is the version
        except OSError:
            continue  # compacted away while we listed
        for line in lines:
            try:
                e = json.loads(line)
            except ValueError:
                continue  # a log file still being written
            out[os.path.basename(e["path"])] = e["batchId"]
    return out


class ArbStream:
    name = "arb_stream"
    open_loop = True
    lanes = ("store", "scan")

    def setup(self, ctx):
        from financial_arbitrage_data_pipeline_spark.streaming import ingest, scan

        rng = np.random.default_rng(ctx.seed)
        ev = datagen.events_frame(rng, datagen.rows_at(ctx.scale, 100_000, 2_000))
        datagen.write_table(
            datagen.customer_frame(rng, datagen.rows_at(ctx.scale, 15_000, 200)), ctx.data_dir, "customer"
        )
        feed = pa.table(
            {
                "event_id": ev["event_id"],
                "ts_us": ev["ts"].cast(pa.int64()),
                "user_id": ev["user_id"],
                "event_type": ev["event_type"],
                "value": ev["value"],
            }
        )
        rows = max(10, int(CHUNK_ROWS_SF01 * ctx.scale / 0.1))
        st = {
            "staging": os.path.join(ctx.work, "staging"),
            "feed_dir": os.path.join(ctx.work, "feed"),
            "store_dir": os.path.join(ctx.work, "market_snapshot"),
            "opp_dir": os.path.join(ctx.work, "opportunities"),
            "ckpt": {lane: os.path.join(ctx.work, f"ckpt_{lane}") for lane in self.lanes},
            "chunks": [],
            "landed": [],  # (chunk index, due, landed) in epoch seconds
            "lag_ms": [],
            "backlog_max": 0,
        }
        os.makedirs(st["staging"])
        os.makedirs(st["feed_dir"])
        for i, off in enumerate(range(0, feed.num_rows, rows)):
            part = feed.slice(off, rows)
            pq.write_table(part, os.path.join(st["staging"], self._name(i)))
            st["chunks"].append(part)
        spark = ctx.spark
        enriched = ingest.enrich_snapshots(
            ingest.replay_stream(spark, st["feed_dir"], files_per_trigger=FILES_PER_TRIGGER)
        )
        st["q"] = {
            "store": ingest.start_storage_lane(
                enriched, st["store_dir"], st["ckpt"]["store"], available_now=False
            ),
            "scan": scan.start_scan_lane(
                scan.opportunity_stream(
                    scan.quotes_from_snapshots(enriched), scan.pair_universe(spark, ctx.data_dir)
                ),
                st["opp_dir"],
                st["ckpt"]["scan"],
                available_now=False,
            ),
        }
        ctx.queries += list(st["q"].values())
        self._land(st, time.time())  # the lanes' first, cold micro-batches
        self._wait(ctx, st, time.perf_counter() + 120)
        self._feed(ctx, st, time.perf_counter() + WARMUP_FEED_S, record=False)
        return st

    @staticmethod
    def _name(i: int) -> str:
        return f"chunk-{i:05d}.parquet"

    def _land(self, st, due: float) -> None:
        i = len(st["landed"])
        if i >= len(st["chunks"]):
            raise RuntimeError("quote feed exhausted; raise the feed size")
        dst = os.path.join(st["feed_dir"], self._name(i))
        os.rename(os.path.join(st["staging"], self._name(i)), dst)
        now = time.time()
        # strictly increasing mtimes: the file source takes the oldest first
        st["stamp"] = max(now, st.get("stamp", 0.0) + 0.002)
        os.utime(dst, (st["stamp"], st["stamp"]))
        st["landed"].append((i, due, now))
        st["lag_ms"].append(max(0.0, (now - due) * 1000))

    def _processed(self, ctx, st) -> int:
        """Landed chunks that both lanes have committed."""
        done = []
        for lane in self.lanes:
            with ctx.tracer.quiet():
                lp = st["q"][lane].lastProgress
            committed = -1 if lp is None else lp["batchId"]
            log = _source_log(st["ckpt"][lane])
            done.append(
                sum(1 for i, _, _ in st["landed"] if log.get(self._name(i), committed + 1) <= committed)
            )
        return min(done)

    def _wait(self, ctx, st, deadline: float) -> bool:
        while time.perf_counter() < deadline:
            if self._processed(ctx, st) == len(st["landed"]):
                return True
            time.sleep(0.05)
        return False

    @staticmethod
    def _progress(ctx, q) -> dict[int, dict]:
        with ctx.tracer.quiet():
            return {p["batchId"]: p for p in (json.loads(p.json) for p in q.recentProgress)}

    def _feed(self, ctx, st, until: float, record: bool = True) -> None:
        """Land one chunk every FEED_INTERVAL_S until `until`, whatever the
        lanes are doing, then wait for both lanes to catch up."""
        t0_perf, t0 = time.perf_counter(), time.time()
        k = 0
        while t0_perf + k * FEED_INTERVAL_S < until:
            time.sleep(max(0.0, t0_perf + k * FEED_INTERVAL_S - time.perf_counter()))
            self._land(st, t0 + k * FEED_INTERVAL_S)
            if record:
                ctx.open_ops.append((len(st["landed"]) - 1, ctx.traced))
                st["backlog_max"] = max(
                    st["backlog_max"], len(st["landed"]) - self._processed(ctx, st)
                )
            k += 1
        self._wait(ctx, st, time.perf_counter() + 60)

    def measure(self, ctx, st, until: float, last: bool) -> None:
        drain_budget = (until - time.perf_counter()) * (1 - OPEN_LOOP_SHARE) if last else 0.0
        self._feed(ctx, st, until - drain_budget)
        if last:
            first, t_land = len(st["landed"]), time.time()
            for _ in range(BACKLOG_CHUNKS):
                self._land(st, t_land)
            self._wait(ctx, st, time.perf_counter() + 120)
            st["drain"] = (first, len(st["landed"]), t_land)

    def finish(self, ctx, st) -> None:
        from pyspark.sql import functions as F

        from financial_arbitrage_data_pipeline_spark.streaming import scan

        if ctx.trace:
            # Catalyst phases of each lane's last micro-batch: the lanes'
            # plans run inside the JVM, out of reach of the action wrappers
            for q in st["q"].values():
                with ctx.tracer.quiet():
                    qe = q._jsq.streamingQuery().lastExecution()
                ctx.tracer.add_phases(qe)
        for q in st["q"].values():
            q.stop()
            q.awaitTermination(60)
        prog = {lane: self._progress(ctx, st["q"][lane]) for lane in self.lanes}
        logs = {lane: _source_log(st["ckpt"][lane]) for lane in self.lanes}
        due = {i: d for i, d, _ in st["landed"]}
        batch_of = {lane: {i: logs[lane].get(self._name(i)) for i in due} for lane in self.lanes}
        # every chunk must sit in a batch both lanes committed; the final
        # state checks below show that those batches processed it exactly once
        bad = {
            i for lane in self.lanes for i, b in batch_of[lane].items() if b not in prog[lane]
        }

        def done_at(lane, i):
            b = batch_of[lane][i]
            return _progress_end(prog[lane][b]) if i not in bad else due[i]

        for i, traced in ctx.open_ops:
            ok = i not in bad
            ctx.record("op", (done_at("scan", i) - due[i]) * 1000, ok, traced)
            ctx.record("side", (done_at("store", i) - due[i]) * 1000, ok, traced)
        first, end, t_land = st["drain"]
        drain_ok = all(i not in bad for i in range(first, end))
        t_done = max(done_at(lane, i) for lane in self.lanes for i in range(first, end))
        drain_rows = sum(st["chunks"][i].num_rows for i in range(first, end))
        ctx.record_drain(drain_rows / max(t_done - t_land, 1e-6), drain_ok, end - first)

        # the final state, against the whole landed feed
        con = ctx.con
        con.register("feed", pa.concat_tables([st["chunks"][i] for i in sorted(due)]))
        con.execute(
            f"CREATE VIEW customer AS SELECT * FROM read_parquet('{ctx.data_dir}/customer.parquet')"
        )
        with ctx.tracer.quiet():
            got = scan.final_opportunities(ctx.spark, st["opp_dir"]).toPandas()
            sink = ctx.spark.read.parquet(st["opp_dir"]).toPandas()
            store = (
                ctx.spark.read.parquet(st["store_dir"])
                .groupBy("source")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.countDistinct("ticker").alias("n_tickers"),
                    F.min("ts_us").alias("min_ts_us"),
                    F.max("ts_us").alias("max_ts_us"),
                )
                .toPandas()
            )
        ok_scan = ctx.check(
            got, con.execute(oracle.scan_sql(scan.FRESHNESS_US_DEFAULT, scan.THRESHOLD_DEFAULT)).df()
        )
        ok_store = ctx.check(store, con.execute(oracle.STORE_SQL).df())
        ctx.final_ok = ok_scan and ok_store
        st.update(prog=prog, sink=sink, batch_of=batch_of)

    def layers(self, ctx, st) -> None:
        """Per-layer numbers from the lanes' own progress reports, over the
        traced batches."""
        prog, sink, (first, end, _) = st["prog"], st["sink"], st["drain"]
        chunks = [i for i, traced in ctx.open_ops if traced] + list(range(first, end))
        traced = {
            lane: sorted({st["batch_of"][lane][i] for i in chunks} - {None}) for lane in self.lanes
        }
        m = ctx.layer

        def med(lane, key):
            return percentile([prog[lane][b]["durationMs"].get(key, 0) for b in traced[lane]], 50)

        for lane, pre in (("scan", "scan"), ("store", "ingest")):
            m[f"{pre}.batch_ms_p50"] = med(lane, "triggerExecution")
            m[f"{pre}.add_batch_ms_p50"] = med(lane, "addBatch")
            m[f"{pre}.planning_ms_p50"] = med(lane, "queryPlanning")
            m[f"{pre}.wal_commit_ms_p50"] = med(lane, "walCommit")
        m["scan.commit_offsets_ms_p50"] = med("scan", "commitOffsets")
        m["ingest.latest_offset_ms_p50"] = med("store", "latestOffset")
        ops = [prog["scan"][b]["stateOperators"][0] for b in traced["scan"] if prog["scan"][b]["stateOperators"]]
        if ops:
            m["scan.state_update_ms"] = percentile([o.get("allUpdatesTimeMs", 0) for o in ops], 50)
            m["scan.state_commit_ms"] = percentile([o.get("commitTimeMs", 0) for o in ops], 50)
            m["scan.state_rows"] = ops[-1].get("numRowsTotal", 0)
            m["scan.state_bytes"] = ops[-1].get("memoryUsedBytes", 0)
            m["scan.state_stores"] = ops[-1].get("numShufflePartitions", 0)
            m["scan.pairs_touched_per_batch"] = percentile([o.get("numRowsUpdated", 0) for o in ops], 50)
        m["scan.opp_ratio"] = float(sink["has_opp"].mean()) if len(sink) else 0.0
        m["scan.backlog_chunks_max"] = st["backlog_max"]
        files, _ = _du_mb(st["store_dir"])
        m["ingest.files_per_batch"] = files / max(len(prog["store"]), 1)
        m["ingest.rows_per_s"] = percentile(
            [prog["store"][b].get("processedRowsPerSecond", 0) for b in traced["store"]], 50
        )
        m["bench.generator_lag_ms_max"] = max(st["lag_ms"], default=0.0)


# ---------------------------------------------------------------------------
# snapshot_queries
# ---------------------------------------------------------------------------

PERIODS = {"1 hour": 3600, "6 hours": 21600, "1 day": 86400}
PAIR_PERIODS = (3600, 21600, 86400)
# request kinds in a fixed rotation, so every run has the same mix; the
# seed draws tickers, time ranges and periods. Series requests (raw,
# period, pair history) are the op; the ticker listing, a few times
# cheaper, is the side request.
KIND_CYCLE = ("raw", "tickers", "pair", "period", "tickers")
SERIES = ("raw", "period", "pair")


class SnapshotQueries:
    name = "snapshot_queries"
    open_loop = False

    def setup(self, ctx):
        from financial_arbitrage_data_pipeline_spark import etl

        rng = np.random.default_rng(ctx.seed)
        path = datagen.write_table(
            datagen.events_frame(rng, datagen.rows_at(ctx.scale, 100_000, 2_000)), ctx.data_dir, "events"
        )
        ctx.con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        snap_dir = os.path.join(ctx.work, "market_snapshot")
        etl.build_snapshot_table(ctx.spark, ctx.data_dir).write.partitionBy("source").parquet(snap_dir)
        ranks = np.arange(1, datagen.N_KEYS + 1)
        zipf = 1.0 / ranks**1.1
        st = {
            "snap": ctx.spark.read.parquet(snap_dir),
            "rng": np.random.default_rng([ctx.seed, 1]),
            "keys": rng.permutation(datagen.N_KEYS),
            "zipf": zipf / zipf.sum(),
            "n": 0,
        }
        self.warm_up(ctx, st)
        return st

    def _request(self, st) -> dict:
        rng = st["rng"]
        key = int(st["keys"][rng.choice(datagen.N_KEYS, p=st["zipf"])])
        kind = KIND_CYCLE[st["n"] % len(KIND_CYCLE)]
        st["n"] += 1
        req = {"kind": kind, "key": key, "start": None, "end": None}
        if kind in ("raw", "period") and rng.random() < 0.5:
            day = int(rng.integers(0, 25))
            start = datetime(2024, 1, 1) + timedelta(days=day)
            req["start"] = start.strftime("%Y-%m-%d %H:%M:%S")
            req["end"] = (start + timedelta(days=int(rng.integers(1, 6)))).strftime("%Y-%m-%d %H:%M:%S")
        if kind == "period":
            req["period"] = str(rng.choice(list(PERIODS)))
        if kind == "pair":
            req["period_s"] = int(rng.choice(PAIR_PERIODS))
        if kind == "tickers":
            req["source"] = [None, "kalshi", "polymarket"][int(rng.integers(0, 3))]
        return req

    def _call(self, ctx, st, req) -> pd.DataFrame:
        from financial_arbitrage_data_pipeline_spark import etl

        if req["kind"] in ("raw", "period"):
            exch = "kalshi" if req["key"] % 2 == 0 else "polymarket"
            return etl.get_ticker_data(
                st["snap"],
                str(req["key"]),
                exch,
                start_date=req["start"],
                end_date=req["end"],
                period=req.get("period"),
            )
        if req["kind"] == "pair":
            return etl.get_pair_history(ctx.spark, ctx.data_dir, req["key"], period_s=req["period_s"])
        return etl.available_tickers(st["snap"], source=req["source"]).toPandas()

    def _expected(self, ctx, req) -> pd.DataFrame:
        if req["kind"] in ("raw", "period"):
            exch = "kalshi" if req["key"] % 2 == 0 else "polymarket"
            sql = oracle.ticker_data_sql(
                req["key"], exch, req["start"], req["end"], PERIODS.get(req.get("period"))
            )
        elif req["kind"] == "pair":
            sql = oracle.pair_history_sql(req["key"], req["period_s"])
        else:
            sql = oracle.available_tickers_sql(req["source"])
        return ctx.con.execute(sql).df()

    @staticmethod
    def _normalize(req, got: pd.DataFrame) -> pd.DataFrame:
        if req["kind"] == "tickers":
            return got
        idx = got.index.tz_convert("UTC").tz_localize(None)
        out = got.reset_index(drop=True)
        if req["kind"] == "pair":
            out.insert(0, "bucket_us", (idx - pd.Timestamp(0)) // pd.Timedelta(microseconds=1))
        else:
            out.insert(0, "ts", idx)
        return out

    def _op(self, ctx, st, req, record: bool = True) -> None:
        ctx.begin_op()
        t = time.perf_counter()
        got = self._call(ctx, st, req)
        ms = (time.perf_counter() - t) * 1000
        ctx.end_op()
        with ctx.tracer.quiet():
            ok = ctx.check(self._normalize(req, got), self._expected(ctx, req))
        if record:
            ctx.record("op" if req["kind"] in SERIES else "side", ms, ok, ctx.traced, req["kind"])
        elif not ok:
            raise RuntimeError(f"warm-up request returned a wrong result: {req}")

    def warm_up(self, ctx, st, rounds: int = 5) -> None:
        """`rounds` turns of the request rotation, so first-call costs (code
        generation, Arrow set-up, the events table listing) land in set-up
        and the JIT has compiled the hot paths: with two turns, per-kind
        latency still fell by a third through the window."""
        saved = st["rng"]
        st["rng"] = np.random.default_rng([ctx.seed, 2])
        for _ in range(rounds * len(KIND_CYCLE)):
            self._op(ctx, st, self._request(st), record=False)
        st["rng"], st["n"] = saved, 0

    def measure(self, ctx, st, until: float, last: bool) -> None:
        while time.perf_counter() < until:
            self._op(ctx, st, self._request(st))

    def finish(self, ctx, st) -> None:
        ctx.final_ok = True

    def layers(self, ctx, st) -> None:
        by_name = ctx.tracer.self_times(by="name")
        n = max(ctx.traced_ops(), 1)
        present = sum(by_name.get(f"etl.{f}", 0.0) for f in ("get_ticker_data", "get_pair_history"))
        build = sum(v for k, v in by_name.items() if k.startswith("etl.")) - present
        ctx.layer["etl.build_ms"] = 1000 * build / n
        ctx.layer["etl.to_pandas_ms"] = 1000 * by_name.get("arrow.toPandas", 0.0) / n
        ctx.layer["etl.present_ms"] = 1000 * present / n


# ---------------------------------------------------------------------------
# ticket_merge
# ---------------------------------------------------------------------------

N_FILL_BATCHES = 40


class TicketMerge:
    name = "ticket_merge"
    open_loop = False

    def setup(self, ctx):
        from pyspark.sql import functions as F

        from financial_arbitrage_data_pipeline_spark.operators import upsert

        rng = np.random.default_rng(ctx.seed)
        n_orders = datagen.rows_at(ctx.scale, 150_000, 2_000)
        path = datagen.write_table(datagen.orders_frame(rng, n_orders), ctx.data_dir, "orders")
        tdir = os.path.join(ctx.work, "trade_tickets")
        upsert.create_bucketed_table(
            ctx.spark,
            tdir,
            ctx.spark.read.parquet(path).select(
                F.col("o_orderkey").alias("ticket_id"),
                (F.col("o_orderkey") % 50 + 1).alias("quantity"),
                F.lit(0).cast("long").alias("executed_quantity"),
                F.lit(0).cast("long").alias("executed_cost_cents"),
                F.lit("pending").alias("status"),
            ),
            key="ticket_id",
        )
        ctx.con.execute(
            "CREATE VIEW tickets AS SELECT o_orderkey AS ticket_id, o_orderkey % 50 + 1 AS quantity "
            f"FROM read_parquet('{path}')"
        )
        # fill batches: half narrow (a few tickets, a few buckets), half
        # wide (hundreds to thousands of tickets, every bucket)
        fills_dir = os.path.join(ctx.work, "fills")
        os.makedirs(fills_dir)
        frames, paths = [], []
        for b in range(N_FILL_BATCHES):
            wide = rng.random() < 0.5
            n_t = int(rng.integers(200, 3000)) if wide else int(rng.integers(1, 5))
            tickets = rng.choice(n_orders, size=min(n_t, n_orders), replace=False)
            per = rng.integers(1, 4, size=len(tickets))
            ids = np.repeat(tickets, per).astype(np.int64)
            df = pd.DataFrame(
                {
                    "ticket_id": ids,
                    "fill_qty": rng.integers(1, 11, size=len(ids)).astype(np.int64),
                    "fill_price_cents": rng.integers(1, 98, size=len(ids)).astype(np.int64),
                }
            )
            p = os.path.join(fills_dir, f"batch-{b:04d}.parquet")
            df.to_parquet(p, index=False)
            paths.append(p)
            frames.append(df.assign(batch=b))
        ctx.con.register("fills", pd.concat(frames, ignore_index=True))
        st = {"tdir": tdir, "paths": paths, "frames": frames, "next": 0, "merges": []}
        self._cycle(ctx, st, record=False)  # first-merge costs land in set-up
        return st

    def measure(self, ctx, st, until: float, last: bool) -> None:
        while time.perf_counter() < until and st["next"] < len(st["paths"]):
            self._cycle(ctx, st)

    def _cycle(self, ctx, st, record: bool = True) -> None:
        """Merge the next fill batch, then read the table twice."""
        from pyspark.sql import functions as F

        from financial_arbitrage_data_pipeline_spark.operators import upsert

        spark, tdir = ctx.spark, st["tdir"]
        b = st["next"]
        st["next"] += 1
        before = {d: os.stat(os.path.join(tdir, d)).st_ino for d in os.listdir(tdir) if d.startswith("__bucket__=")}
        ctx.begin_op()
        t = time.perf_counter()
        upsert.apply_fills(spark, tdir, spark.read.parquet(st["paths"][b]))
        merge_ms = (time.perf_counter() - t) * 1000
        ctx.end_op()
        after = {d: os.stat(os.path.join(tdir, d)).st_ino for d in os.listdir(tdir) if d.startswith("__bucket__=")}
        st["merges"].append(
            {
                "rewritten": sum(1 for d, ino in after.items() if before.get(d) != ino),
                "in_bytes": os.path.getsize(st["paths"][b]),
                "traced": ctx.traced,
            }
        )

        ctx.begin_op()
        t = time.perf_counter()
        status = (
            upsert.read_merge_table(spark, tdir)
            .groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("executed_quantity").alias("qty"))
            .toPandas()
        )
        status_ms = (time.perf_counter() - t) * 1000
        ctx.end_op()

        probe = int(st["frames"][b]["ticket_id"].iloc[0])
        ctx.begin_op()
        t = time.perf_counter()
        row = upsert.read_merge_table(spark, tdir).filter(F.col("ticket_id") == probe).toPandas()
        lookup_ms = (time.perf_counter() - t) * 1000
        ctx.end_op()

        with ctx.tracer.quiet():
            ok_status = ctx.check(status, ctx.con.execute(oracle.ticket_status_sql(b)).df())
            ok_row = ctx.check(row, ctx.con.execute(oracle.ticket_lookup_sql(b, probe)).df())
        if not record:
            if not (ok_status and ok_row):
                raise RuntimeError("warm-up merge returned a wrong result")
            st["merges"].pop()
            return
        ctx.record("op", merge_ms, ok_status and ok_row, ctx.traced)
        ctx.record("side", status_ms, ok_status, ctx.traced)
        ctx.record("side", lookup_ms, ok_row, ctx.traced)

    def finish(self, ctx, st) -> None:
        from financial_arbitrage_data_pipeline_spark.operators import upsert

        with ctx.tracer.quiet():
            got = upsert.read_merge_table(ctx.spark, st["tdir"]).toPandas()
        want = ctx.con.execute(oracle.ticket_table_sql(st["next"] - 1)).df()
        ctx.final_ok = ctx.check(got, want)

    def layers(self, ctx, st) -> None:
        merges = [m for m in st["merges"] if m["traced"]]
        n = max(len(merges), 1)
        spans = ctx.tracer.spans_within("upsert.apply_fills")
        jobs = ctx.jobs_within(spans)
        out_mb = ctx.output_mb_within(spans)
        in_mb = sum(m["in_bytes"] for m in merges) / 2**20
        files, table_mb = _du_mb(st["tdir"])
        ctx.layer.update(
            {
                "upsert.jobs_per_merge": jobs / n,
                "upsert.buckets_rewritten": sum(m["rewritten"] for m in merges) / n,
                "upsert.mb_written_per_merge": out_mb / n,
                "upsert.write_amp": out_mb / max(in_mb, 1e-9),
                "upsert.files_total": files,
                "upsert.table_mb": table_mb,
            }
        )


WORKLOADS = {w.name: w for w in (ArbStream(), SnapshotQueries(), TicketMerge())}
