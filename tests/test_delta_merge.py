"""Native-Delta keyed MERGE (`sources/delta_log.py:merge_delta_table`)
— VERDICT r10 task 2: copy-on-write rewrite of matched files,
remove+add in one commit, `txn`-based exactly-once redelivery, and
metaData re-emit for schema widening, with crash-injection and
redelivery tests on plain Delta tables (`tests/test_upsert.py` covers
the bucket-partitioned merge tables). Plus the ADVICE r10 fix:
checkpoints carry unexpired remove tombstones.

Reference anchor for the lifecycle: the reference's Postgres upsert
(`/root/reference/database/postgres/writer.py:351-407`).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from financial_arbitrage_data_pipeline_spark.sources import delta_log as dl
from financial_arbitrage_data_pipeline_spark.sources.delta_log import (
    DeltaCommitConflict,
    commit_append,
    create_delta_table,
    delta_versions,
    last_txn_version,
    merge_delta_table,
    read_delta_table,
    vacuum_delta,
)


def _seed(spark, td, n=100, files=4, configuration=None):
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit("pending").alias("status"),
    )
    create_delta_table(
        spark, str(td), df.repartitionByRange(files, "k"), configuration=configuration
    )


def test_delta_merge_semantics(spark, tmp_path):
    """Matched rows take set_exprs, unmatched targets pass through,
    insert_missing inserts — same contract as the bucketed merge."""
    td = tmp_path / "t"
    _seed(spark, td, n=100)
    ups = spark.range(50, 120).select(
        F.col("id").alias("k"), F.lit(7).cast("long").alias("dv")
    )
    v = merge_delta_table(
        spark,
        str(td),
        ups,
        "k",
        {"v": F.col("t.v") + F.col("u.dv"), "status": F.lit("touched")},
        insert_missing=True,
    )
    assert v == 1
    rows = {r.k: (r.v, r.status) for r in read_delta_table(spark, str(td)).collect()}
    assert len(rows) == 120
    for k in range(50):
        assert rows[k] == (10 * k, "pending")
    for k in range(50, 100):
        assert rows[k] == (10 * k + 7, "touched")
    for k in range(100, 120):
        # inserted rows: set_exprs sees t.v as null -> null + 7 is null
        assert rows[k] == (None, "touched")


def test_delta_merge_prunes_by_key_stats(spark, tmp_path):
    """Only files whose minValues/maxValues key range can contain an
    update key are removed+rewritten — O(touched files) at any scale."""
    td = tmp_path / "t"
    _seed(spark, td, n=8000, files=8)
    adds0 = [
        a["add"] for a in dl._read_commit_actions(str(td), 0) if "add" in a
    ]
    assert len(adds0) == 8
    stats = json.loads(adds0[0]["stats"])
    assert "minValues" in stats and "k" in stats["minValues"]

    ups = spark.range(100, 151).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("d")
    )
    merge_delta_table(spark, str(td), ups, "k", {"v": F.col("t.v") + F.col("u.d")})
    acts = dl._read_commit_actions(str(td), 1)
    assert sum(1 for a in acts if "remove" in a) == 1
    assert sum(1 for a in acts if "add" in a) == 1
    got = read_delta_table(spark, str(td)).agg(F.sum("v")).collect()[0][0]
    assert got == sum(10 * i for i in range(8000)) + 51


def test_delta_merge_no_matching_file_is_noop_without_insert(spark, tmp_path):
    td = tmp_path / "t"
    _seed(spark, td, n=100)
    ups = spark.range(10_000, 10_010).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("d")
    )
    assert (
        merge_delta_table(spark, str(td), ups, "k", {"v": F.col("u.d")}) is None
    )
    assert delta_versions(str(td)) == [0]


def test_delta_merge_crash_before_commit_then_rerun_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER data files are staged but BEFORE the commit JSON
    exists: the table is untouched (orphans are invisible to replay),
    and the re-run applies the batch exactly once via txn."""
    td = tmp_path / "t"
    _seed(spark, td, n=100)
    ups = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(5).cast("long").alias("dv")
    )

    real_write = dl._write_commit

    def crash(table_dir, version, actions):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(dl, "_write_commit", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_delta_table(
            spark, str(td), ups, "k",
            {"v": F.col("t.v") + F.col("u.dv")},
            txn_app_id="lane", txn_version=1,
        )
    monkeypatch.setattr(dl, "_write_commit", real_write)

    # table state is exactly the seed: the crash published nothing
    assert delta_versions(str(td)) == [0]
    assert read_delta_table(spark, str(td)).agg(F.sum("v")).collect()[0][0] == sum(
        10 * i for i in range(100)
    )

    # redelivered batch applies cleanly, once
    v = merge_delta_table(
        spark, str(td), ups, "k",
        {"v": F.col("t.v") + F.col("u.dv")},
        txn_app_id="lane", txn_version=1,
    )
    assert v == 1
    assert merge_delta_table(
        spark, str(td), ups, "k",
        {"v": F.col("t.v") + F.col("u.dv")},
        txn_app_id="lane", txn_version=1,
    ) is None  # second redelivery: no-op
    got = read_delta_table(spark, str(td)).agg(F.sum("v")).collect()[0][0]
    assert got == sum(10 * i for i in range(100)) + 50 * 5
    assert last_txn_version(spark, str(td), "lane") == 1


def test_delta_merge_loses_version_race_and_retries(spark, tmp_path, monkeypatch):
    """Optimistic concurrency: a competing commit landing between the
    merge's replay and its commit makes the merge lose the version
    race, discard its staged files, and retry against the new head —
    both writers' effects survive."""
    td = tmp_path / "t"
    _seed(spark, td, n=100)
    competing = spark.range(1000, 1010).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v"),
        F.lit("pending").alias("status"),
    )
    real_write = dl._write_commit
    fired = {"n": 0}

    def race_once(table_dir, version, actions):
        if fired["n"] == 0:
            fired["n"] = 1
            commit_append(spark, table_dir, competing)  # steals this version
        return real_write(table_dir, version, actions)

    monkeypatch.setattr(dl, "_write_commit", race_once)
    ups = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(100).cast("long").alias("nv")
    )
    v = merge_delta_table(spark, str(td), ups, "k", {"v": F.col("u.nv")})
    assert v == 2  # lost v1 to the competing append, committed at v2
    df = read_delta_table(spark, str(td))
    assert df.count() == 110
    assert df.filter(F.col("k") < 10).agg(F.sum("v")).collect()[0][0] == 1000
    # the loser's staged files were cleaned up: every data file on disk
    # is referenced by the log
    referenced = set()
    for ver in delta_versions(str(td)):
        for a in dl._read_commit_actions(str(td), ver):
            if "add" in a:
                referenced.add(dl._decode_path(a["add"]["path"]))
    on_disk = {
        f for f in os.listdir(str(td))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    }
    assert on_disk <= referenced


def test_delta_merge_schema_widening_and_time_travel(spark, tmp_path):
    """evolve_schema re-emits metaData with the widened schemaString in
    the SAME commit; untouched files read typed nulls; pre-widening
    versions still read with the OLD schema."""
    td = tmp_path / "t"
    _seed(spark, td, n=100)
    ups = spark.range(0, 10).select(
        F.col("id").alias("k"),
        F.lit(99).cast("long").alias("extra"),
        F.lit(1).cast("long").alias("helper"),
    )
    v = merge_delta_table(
        spark, str(td), ups, "k", {},
        evolve_schema=True, evolve_cols=["extra"],
    )
    assert v == 1
    df = read_delta_table(spark, str(td))
    assert df.columns == ["k", "v", "status", "extra"]  # helper NOT promoted
    assert df.filter(F.col("extra").isNotNull()).count() == 10
    assert df.filter(F.col("extra").isNull()).count() == 90
    old = read_delta_table(spark, str(td), version=0)
    assert old.columns == ["k", "v", "status"]


def test_merge_into_parquet_routes_delta_target_natively(spark, tmp_path):
    """merge_into_parquet on any Delta table — not only a bucketed merge
    table — merges THROUGH the log, honoring applied_batch_id via the
    txn action."""
    from financial_arbitrage_data_pipeline_spark.operators.upsert import (
        merge_into_parquet,
    )

    td = tmp_path / "t"
    _seed(spark, td, n=100)
    ups = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit(3).cast("long").alias("dv")
    )
    merge_into_parquet(
        spark, str(td), ups, "k",
        {"v": F.col("t.v") + F.col("u.dv")},
        applied_batch_id=7,
    )
    # redelivery of the same batch id: no-op
    merge_into_parquet(
        spark, str(td), ups, "k",
        {"v": F.col("t.v") + F.col("u.dv")},
        applied_batch_id=7,
    )
    # a Delta table is read through LOG REPLAY (directory listing would
    # see the tombstoned pre-merge files too)
    got = read_delta_table(spark, str(td)).agg(F.sum("v")).collect()[0][0]
    assert got == sum(10 * i for i in range(100)) + 300
    assert delta_versions(str(td)) == [0, 1]


def test_checkpoint_carries_tombstones_for_vacuum(spark, tmp_path):
    """ADVICE r10: a checkpoint must retain unexpired remove tombstones
    — after pre-checkpoint JSON commits are deleted, VACUUM still
    reclaims files tombstoned before the checkpoint."""
    td = tmp_path / "t"
    _seed(spark, td, n=100, files=2, configuration={"delta.checkpointInterval": "2"})
    # two merges rewrite files (removes at v1, v2); checkpoint at v2
    for i, ver in ((1, 1), (2, 2)):
        ups = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit(i).cast("long").alias("dv")
        )
        got = merge_delta_table(
            spark, str(td), ups, "k", {"v": F.col("t.v") + F.col("u.dv")}
        )
        assert got == ver
    assert os.path.exists(dl._checkpoint_path(str(td), 2))
    # the tombstones are IN the checkpoint
    state_cp = dl._state_from_checkpoint(spark, str(td), 2)
    assert state_cp.tombstones, "checkpoint lost its remove tombstones"
    # delete every pre-checkpoint JSON commit (time-travel history gone)
    for v in (0, 1):
        os.remove(dl._commit_path(str(td), v))
    tombstoned = set(state_cp.tombstones)
    on_disk_before = {
        f for f in os.listdir(str(td))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    }
    assert tombstoned & {dl._encode_path(f) for f in on_disk_before}
    deleted = vacuum_delta(spark, str(td), retention_ms=0)
    assert set(deleted) >= tombstoned  # pre-checkpoint tombstones reclaimed
    # current version still reads exactly
    got = read_delta_table(spark, str(td)).agg(F.sum("v")).collect()[0][0]
    assert got == sum(10 * i for i in range(100)) + 300


def test_merge_prune_counters_and_degrade_observable(spark, tmp_path):
    """VERDICT r11 task 6: the MERGE prune path must report kept/total
    and a degraded flag — (a) in LAST_MERGE_PRUNE for the caller, (b) in
    the commit's commitInfo.operationMetrics for the artifact trail —
    and the foreign-stats degrade path (stats that don't round-trip
    into the key's Spark type) must be FLAGGED, keep every stats-bearing
    file, and still merge correctly."""
    import json as _json
    import os as _os

    from financial_arbitrage_data_pipeline_spark.sources import delta_log as DL

    td = str(tmp_path / "t")
    df = spark.range(0, 400).selectExpr("id as k", "id * 2 as v")
    DL.create_delta_table(spark, td, df.repartitionByRange(8, "k"))

    # healthy pruning: narrow update -> strict subset, not degraded
    up = spark.range(0, 10).selectExpr("id as k", "id * 100 as v")
    from pyspark.sql import functions as F

    v = DL.merge_delta_table(spark, td, up, "k", {"v": F.col("u.v")})
    rep = dict(DL.LAST_MERGE_PRUNE)
    assert rep["mode"] == "stats" and rep["degraded"] is False
    assert rep["files_candidates"] < rep["files_total"] == 8
    commit = [
        _json.loads(line)
        for line in open(_os.path.join(td, "_delta_log", f"{v:020d}.json"))
    ]
    metrics = next(a["commitInfo"]["operationMetrics"] for a in commit if "commitInfo" in a)
    assert metrics["numTargetFilesScanned"] == rep["files_candidates"]
    assert metrics["numTargetFilesTotal"] == 8
    assert metrics["pruneDegraded"] is False

    # force the degrade path: rewrite the key's min/max stats into a
    # foreign encoding (strings for a long key) in every add action
    for ver in DL.delta_versions(td):
        p = _os.path.join(td, "_delta_log", f"{ver:020d}.json")
        acts = [_json.loads(line) for line in open(p)]
        for a in acts:
            if "add" in a and a["add"].get("stats"):
                st = _json.loads(a["add"]["stats"])
                for side in ("minValues", "maxValues"):
                    if "k" in st.get(side, {}):
                        st[side]["k"] = f"0x{st[side]['k']:x}"
                a["add"]["stats"] = _json.dumps(st)
        with open(p, "w") as fh:
            fh.writelines(_json.dumps(a) + "\n" for a in acts)

    up2 = spark.range(0, 5).selectExpr("id as k", "id * 1000 as v")
    v2 = DL.merge_delta_table(spark, td, up2, "k", {"v": F.col("u.v")})
    rep2 = dict(DL.LAST_MERGE_PRUNE)
    assert rep2["degraded"] is True, rep2
    assert rep2["files_candidates"] == rep2["files_total"]  # every stats-bearing file read
    commit2 = [
        _json.loads(line)
        for line in open(_os.path.join(td, "_delta_log", f"{v2:020d}.json"))
    ]
    m2 = next(a["commitInfo"]["operationMetrics"] for a in commit2 if "commitInfo" in a)
    assert m2["pruneDegraded"] is True
    # correctness never depended on the stats: merged values exact
    got = {r["k"]: r["v"] for r in DL.read_delta_table(spark, td).collect()}
    for k in range(400):
        want = k * 1000 if k < 5 else (k * 100 if k < 10 else k * 2)
        assert got[k] == want, (k, got[k], want)
