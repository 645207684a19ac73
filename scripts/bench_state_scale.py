#!/usr/bin/env python
"""State-store SCALE proof for the T3 latest-per-key lane: the committed
latency bench measured only sf0.1's ~1.5k key cardinality. This bench
replays the REAL lane (quotes → broadcast pair join →
`scan.opportunity_stream`, the native streaming-aggregation
latest-per-key scan) on the RocksDB state store provider at 1× / 10× /
100× the sf0.1 key count (100× = sf10's cardinality) and records, per
scale point:

- per-batch addBatch latency (p50 over the availableNow replay),
- state size from Spark's own stateOperators metrics (numRowsTotal +
  RocksDB custom metrics: SST bytes, memtable bytes),
- recovery-from-checkpoint wall: a NEW query on the same checkpoint
  processing one incremental chunk — the restart path a production
  lane exercises on every deploy.

Results are appended to BENCH_stream_latency.json under "state_scale"
(the artifact this extends), and SCALE.md gets the growth-law reading.

Env: KEYS (comma list, default "1500,15000,150000"),
     ROWS_PER_KEY (default 6), CHUNKS (default 3).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from financial_arbitrage_data_pipeline_spark.session import get_spark
from financial_arbitrage_data_pipeline_spark.streaming import scan

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOUR_US = 3_600_000_000


def gen_chunks(spark, qdir: str, n_keys: int, rows_per_key: int, n_chunks: int) -> int:
    """Write n_chunks parquet files of synthetic quotes covering every
    key in each chunk (generated distributed — no driver-side lists)."""
    os.makedirs(qdir, exist_ok=True)
    per_chunk = max(1, rows_per_key // n_chunks)
    for c in range(n_chunks):
        df = (
            spark.range(n_keys * per_chunk)
            .selectExpr(
                f"id % {n_keys} as pair_id",
                f"case when (id + {c}) % 2 = 0 then 'kalshi' else 'polymarket' end as venue",
                f"cast((id % 97 + 1) as double) / 100.0 as yes",
                f"cast((id % 89 + 1) as double) / 100.0 as no",
                f"1700000000000000 + (id div {n_keys}) * 1000000 + {c} * {per_chunk} * 1000000 as ts_us",
                f"id + {c} * {n_keys * per_chunk} as event_id",
            )
        )
        df.coalesce(4).write.mode("overwrite").parquet(
            os.path.join(qdir, f"__chunk{c}__")
        )
        # flatten into single-dir files so maxFilesPerTrigger batches them
        src = os.path.join(qdir, f"__chunk{c}__")
        for i, f in enumerate(sorted(os.listdir(src))):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(src, f),
                    os.path.join(qdir, f"chunk-{c:03d}-{i}.parquet"),
                )
        shutil.rmtree(src)
    return n_keys * per_chunk * n_chunks


def run_point(spark, n_keys: int, rows_per_key: int, n_chunks: int) -> dict:
    work = tempfile.mkdtemp(prefix=f"statescale_{n_keys}_")
    qdir = os.path.join(work, "quotes")
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")
    n_rows = gen_chunks(spark, qdir, n_keys, rows_per_key, n_chunks)
    pairs = spark.range(n_keys).selectExpr("id as pair_id")

    def stream():
        quotes = (
            spark.readStream.schema(scan.QUOTE_SCHEMA)
            .option("maxFilesPerTrigger", 4)
            .parquet(qdir)
        )
        return scan.opportunity_stream(quotes, pairs, freshness_us=HOUR_US)

    t0 = time.time()
    q = scan.start_scan_lane(stream(), sink, ckpt)
    q.awaitTermination()
    ingest_wall = time.time() - t0
    add_batch_ms, state = [], {}
    for p in q.recentProgress:
        if p.get("numInputRows", 0) == 0:
            continue
        add_batch_ms.append(float((p.get("durationMs") or {}).get("addBatch", 0)))
        for so in p.get("stateOperators") or []:
            cm = so.get("customMetrics") or {}
            state = {
                "numRowsTotal": so.get("numRowsTotal"),
                "numRowsUpdated": so.get("numRowsUpdated"),
                **{
                    k: v
                    for k, v in cm.items()
                    if any(s in k for s in ("Size", "Usage", "Bytes"))
                    and v
                },
            }

    # recovery: one more chunk arrives, a fresh query resumes the SAME
    # checkpoint — wall from start() to drained
    gen_chunks(spark, os.path.join(work, "extra"), n_keys, max(2, rows_per_key // 3), 1)
    for f in os.listdir(os.path.join(work, "extra")):
        if f.endswith(".parquet"):
            os.rename(
                os.path.join(work, "extra", f),
                os.path.join(qdir, f"recover-{f}"),
            )
    t1 = time.time()
    q2 = scan.start_scan_lane(stream(), sink, ckpt)
    q2.awaitTermination()
    recovery_wall = time.time() - t1

    out = {
        "n_keys": n_keys,
        "n_rows_replayed": n_rows,
        "n_batches": len(add_batch_ms),
        "ingest_wall_sec": round(ingest_wall, 2),
        "add_batch_p50_ms": round(statistics.median(add_batch_ms), 1)
        if add_batch_ms
        else None,
        "add_batch_max_ms": round(max(add_batch_ms), 1) if add_batch_ms else None,
        "recovery_wall_sec": round(recovery_wall, 2),
        "state": state,
    }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return out


def main() -> int:
    keys = [
        int(k)
        for k in os.environ.get("KEYS", "1500,15000,150000").split(",")
        if k
    ]
    rows_per_key = int(os.environ.get("ROWS_PER_KEY", "6"))
    n_chunks = int(os.environ.get("CHUNKS", "3"))
    spark = get_spark(app_name="state-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    rows = [run_point(spark, k, rows_per_key, n_chunks) for k in keys]

    art = os.path.join(ROOT, "BENCH_stream_latency.json")
    with open(art, encoding="utf-8") as fh:
        data = json.load(fh)
    data["state_scale"] = {
        "lane": "opportunity_stream (streaming max(struct) aggregation on RocksDB, latest-per-key)",
        "rows_per_key": rows_per_key,
        "rows": rows,
        "note": (
            "100x keys = sf10 cardinality; addBatch and recovery walls "
            "should grow sublinearly in keys (state is touched per "
            "UPDATED key, recovery replays the changelog)"
        ),
    }
    with open(art, "w", encoding="utf-8") as fh:
        json.dump(data, fh, indent=1)
    print(json.dumps({"written": "BENCH_stream_latency.json", "points": len(rows)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
