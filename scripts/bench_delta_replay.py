#!/usr/bin/env python
"""Delta-log replay cost: O(checkpoint interval), not O(commit count).

Two tiers:

1. REAL tier — a native Delta table built by `create_delta_table` +
   `commit_append` (real parquet batches from `orders`), measured
   end-to-end: snapshot reconstruction + full data read, with and
   without checkpoints, at growing commit counts.
2. METADATA tier — fabricated logs at commit counts a benchmark can't
   afford to write data for (10k commits): measures `replay_state`
   alone, the driver-side work that scales with the log. Checkpoints
   are written by the real `_write_checkpoint`; data files are
   synthetic paths (replay never opens them).

The claim under test is the protocol's core scalability property: a
100 TB table accumulates millions of commits, and a reader that had to
parse every JSON since version 0 would spend its life in the log.
`_last_checkpoint` + newest-covering-checkpoint replay bounds log work
by the interval — the curve here should show the checkpointed replay
FLAT in commit count while the uncheckpointed one grows linearly.

Usage: python scripts/bench_delta_replay.py [--out BENCH_delta_replay.json]
"""

from __future__ import annotations

import argparse
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
from financial_arbitrage_data_pipeline_spark.sources.delta_log import (
    _LogState,
    _write_checkpoint,
    _write_commit,
    commit_append,
    create_delta_table,
    read_delta_table,
    replay_state,
)
from financial_arbitrage_data_pipeline_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _median_wall(fn, repeat=5) -> float:
    walls = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def real_tier(spark, commit_counts, interval) -> list[dict]:
    """Full read path at growing commit counts, checkpointed vs not."""
    rows = []
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    for n_commits in commit_counts:
        root = tempfile.mkdtemp(prefix="sgdrb_")
        dirs = {}
        try:
            # build BOTH variants first, then measure INTERLEAVED —
            # sequential build+measure gave the later variant a warmed
            # JVM/page cache and consistently inverted the comparison
            for label, cp_interval in (("cp", interval), ("full", 0)):
                tdir = os.path.join(root, label)
                create_delta_table(
                    spark,
                    tdir,
                    orders.filter(F.col("o_orderkey") % n_commits == 0),
                    configuration={"delta.checkpointInterval": str(cp_interval)},
                )
                for i in range(1, n_commits):
                    commit_append(
                        spark,
                        tdir,
                        orders.filter(F.col("o_orderkey") % n_commits == i),
                    )
                dirs[label] = tdir
            walls = {"cp": [], "full": []}
            for _ in range(7):
                for label in ("cp", "full"):
                    t0 = time.perf_counter()
                    read_delta_table(spark, dirs[label]).agg(
                        F.count(F.lit(1))
                    ).collect()
                    walls[label].append(time.perf_counter() - t0)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        rows.append(
            {
                "commits": n_commits,
                "read_wall_checkpointed_sec": round(
                    statistics.median(walls["cp"]), 4
                ),
                "read_wall_full_replay_sec": round(
                    statistics.median(walls["full"]), 4
                ),
            }
        )
        print(f"  real tier {rows[-1]}", flush=True)
    return rows


def metadata_tier(spark, commit_counts, interval, churn=False) -> list[dict]:
    """replay_state alone at commit counts too large to write data for.
    Fabricated commits; checkpoints via the real writer. `churn=False`
    grows the active set with every commit (append-only worst case for
    the checkpoint: state is O(commits) either way and the win is
    columnar-load vs JSON-parse). `churn=True` removes the previous
    file each commit (upsert/compaction-shaped history, active set
    O(1)): full replay still parses EVERY commit, the checkpointed
    read is a near-empty checkpoint + the bounded JSON tail — the
    regime a long-lived 100 TB table actually lives in."""
    rows = []
    for n_commits in commit_counts:
        root = tempfile.mkdtemp(prefix="sgdrbm_")
        tdir = os.path.join(root, "t")
        os.makedirs(tdir)
        try:
            state = _LogState()
            cp_at = (n_commits - 1) // interval * interval
            for v in range(n_commits):
                actions = []
                if v == 0:
                    actions.append(
                        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
                    )
                    actions.append(
                        {
                            "metaData": {
                                "id": "bench",
                                "format": {"provider": "parquet", "options": {}},
                                "schemaString": '{"type":"struct","fields":[]}',
                                "partitionColumns": [],
                                "configuration": {},
                                "createdTime": 0,
                            }
                        }
                    )
                actions.append(
                    {
                        "add": {
                            "path": f"part-{v:07d}.parquet",
                            "partitionValues": {},
                            "size": 1,
                            "modificationTime": 1,
                            "dataChange": True,
                            "stats": '{"numRecords":1}',
                        }
                    }
                )
                if churn and v > 0:
                    actions.append(
                        {
                            "remove": {
                                "path": f"part-{v - 1:07d}.parquet",
                                "deletionTimestamp": 1,
                                "dataChange": True,
                            }
                        }
                    )
                _write_commit(tdir, v, actions)
                for a in actions:
                    state.apply(a)
                # one checkpoint at the newest interval multiple is all a
                # reader ever consults (a real writer would have them all)
                if v == cp_at and v > 0:
                    _write_checkpoint(spark, tdir, v, state)
            w_cp = _median_wall(lambda: replay_state(spark, tdir))
            # hide _last_checkpoint + checkpoints to force full replay
            lc = os.path.join(tdir, "_delta_log", "_last_checkpoint")
            if os.path.exists(lc):
                os.remove(lc)
            for f in os.listdir(os.path.join(tdir, "_delta_log")):
                if f.endswith(".checkpoint.parquet"):
                    os.remove(os.path.join(tdir, "_delta_log", f))
            w_full = _median_wall(lambda: replay_state(spark, tdir))
            rows.append(
                {
                    "commits": n_commits,
                    "replay_checkpointed_sec": round(w_cp, 4),
                    "replay_full_sec": round(w_full, 4),
                    "json_tail_checkpointed": n_commits - 1 - cp_at,
                }
            )
            print(f"  metadata tier {rows[-1]}", flush=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_delta_replay.json",
    ))
    args = ap.parse_args()
    spark = get_spark(app_name="bench-delta-replay")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    interval = 10
    real = real_tier(spark, [12, 40, 120], interval)
    meta = metadata_tier(spark, [100, 1000, 10000, 30000], interval * 10)
    churn = metadata_tier(
        spark, [100, 1000, 10000, 30000], interval * 10, churn=True
    )
    out = {
        "metric": "delta_log_replay_cost",
        "unit": "sec",
        "checkpoint_interval_real": interval,
        "checkpoint_interval_metadata": interval * 10,
        "harness": (
            "real tier = full read (replay + data), interleaved medians "
            "of 7, N append commits from orders sf0.1; metadata tiers = "
            "replay_state only on fabricated commits, median of 5 — "
            "append-only grows the active set O(commits), churn keeps "
            "it O(1) (each commit supersedes the previous file)"
        ),
        "real_tier": real,
        "metadata_tier_append_only": meta,
        "metadata_tier_churn": churn,
    }
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({"metric": "delta_replay", "rows": len(real) + len(meta) + len(churn)}))


if __name__ == "__main__":
    main()
