"""Unit tests for the MERGE primitive (K4/J4) beyond the oracle-checked
lifecycle queries. Every table here is a `create_bucketed_table` merge
table: a Delta table partitioned by `__bucket__`."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from financial_arbitrage_data_pipeline_spark.operators import upsert as U
from financial_arbitrage_data_pipeline_spark.operators.upsert import merge_into_parquet
from financial_arbitrage_data_pipeline_spark.sources import delta_log as DL


class Boom(RuntimeError):
    pass


def _seed(spark, path):
    U.create_bucketed_table(
        spark,
        path,
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], "id long, v long, tag string"
        ),
        key="id",
        n_buckets=4,
    )


def _seed_bucketed(spark, path, n_buckets=8, n_rows=64):
    df = spark.range(n_rows).select(
        F.col("id"), (F.col("id") * 10).alias("v"), F.lit("x").alias("tag")
    )
    U.create_bucketed_table(spark, path, df, key="id", n_buckets=n_buckets)


def _bucketed_state(spark, path):
    return {r.id: r.v for r in U.read_merge_table(spark, path).collect()}


def _snap(spark, target):
    return {r.k: r.v for r in U.read_merge_table(spark, target).collect()}


def _buckets_of(spark, keys, n):
    return {
        r[0]
        for r in spark.createDataFrame([(k,) for k in keys], "k long")
        .select(DL.bucket_of(F.col("k"), n))
        .collect()
    }


def _merge_metrics(path, version):
    [info] = [
        a["commitInfo"]
        for a in DL._read_commit_actions(path, version)
        if "commitInfo" in a
    ]
    return info["operationMetrics"]


def _parquet_on_disk(path):
    out = set()
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.relpath(os.path.join(root, f), path))
    return out


def _logged_files(spark, path):
    """Every data file any retained commit references (active or
    tombstoned), as relative filesystem paths."""
    out = set()
    for v in DL.delta_versions(path):
        state = DL.replay_state(spark, path, v)
        out |= {DL._decode_path(p) for p in state.files}
        out |= {DL._decode_path(p) for p in state.tombstones}
    return out


# ---------------------------------------------------------------------------
# MERGE semantics
# ---------------------------------------------------------------------------
def test_merge_updates_matched_rows_only(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    updates = spark.createDataFrame([(2, 5)], "id long, dv long")
    merge_into_parquet(
        spark, path, updates, key="id", set_exprs={"v": F.col("t.v") + F.col("u.dv")}
    )
    rows = {r.id: (r.v, r.tag) for r in U.read_merge_table(spark, path).collect()}
    assert rows == {1: (10, "a"), 2: (25, "b")}


def test_merge_insert_missing(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    updates = spark.createDataFrame([(3, 7)], "id long, dv long")
    merge_into_parquet(
        spark,
        path,
        updates,
        key="id",
        set_exprs={"v": F.coalesce(F.col("t.v"), F.lit(0)) + F.col("u.dv")},
        insert_missing=True,
    )
    rows = {r.id: (r.v, r.tag) for r in U.read_merge_table(spark, path).collect()}
    assert rows == {1: (10, "a"), 2: (20, "b"), 3: (7, None)}


def test_merge_is_idempotent_on_empty_updates(spark, tmp_path):
    """An empty-updates merge without an applied batch id commits
    nothing — with or without insert_missing."""
    path = str(tmp_path / "t")
    _seed(spark, path)
    updates = spark.createDataFrame([], "id long, dv long")
    for insert in (False, True):
        merge_into_parquet(
            spark, path, updates, key="id",
            set_exprs={"v": F.col("t.v") + F.col("u.dv")},
            insert_missing=insert,
        )
    assert DL.delta_versions(path) == [0]
    assert U.read_merge_table(spark, path).count() == 2


def test_bucketed_merge_semantics(spark, tmp_path):
    path = str(tmp_path / "bt")
    _seed_bucketed(spark, path)
    updates = spark.createDataFrame([(3, 1), (7, 2)], "id long, dv long")
    merge_into_parquet(
        spark, path, updates, key="id", set_exprs={"v": F.col("t.v") + F.col("u.dv")}
    )
    rows = _bucketed_state(spark, path)
    assert len(rows) == 64
    assert rows[3] == 31 and rows[7] == 72
    assert rows[0] == 0 and rows[63] == 630


def test_bucketed_merge_untouched_buckets_byte_identical(spark, tmp_path):
    """The write-amplification contract: a merge reads and rewrites ONLY
    the buckets its update keys hash into — the commit's
    numTargetFilesScanned equals the number of touched buckets (one file
    per bucket) — and every other bucket's data files are bit-for-bit
    untouched."""
    path = str(tmp_path / "bt")
    _seed_bucketed(spark, path)

    def bucket_bytes():
        out = {}
        for rel in _parquet_on_disk(path):
            with open(os.path.join(path, rel), "rb") as fh:
                out[rel] = fh.read()
        return out

    before = bucket_bytes()
    keys = [3, 11, 12]
    touched = _buckets_of(spark, keys, 8)
    assert 1 < len(touched) < 8
    updates = spark.createDataFrame([(k, 1) for k in keys], "id long, dv long")
    merge_into_parquet(
        spark, path, updates, key="id", set_exprs={"v": F.col("t.v") + F.col("u.dv")}
    )
    metrics = _merge_metrics(path, 1)
    assert metrics["pruneMode"] == "bucket"
    assert metrics["numTargetFilesTotal"] == 8
    assert metrics["numTargetFilesScanned"] == len(touched)

    after = bucket_bytes()
    prefixes = tuple(f"__bucket__={b}{os.sep}" for b in touched)
    untouched_before = {k: v for k, v in before.items() if not k.startswith(prefixes)}
    untouched_after = {k: v for k, v in after.items() if not k.startswith(prefixes)}
    assert untouched_before == untouched_after  # names AND bytes identical
    # one new file per touched bucket
    new = set(after) - set(before)
    assert len(new) == len(touched) and all(k.startswith(prefixes) for k in new)


def test_bucketed_merge_insert_missing_lands_in_right_bucket(spark, tmp_path):
    path = str(tmp_path / "bt")
    _seed_bucketed(spark, path, n_rows=4)
    updates = spark.createDataFrame([(100, 7)], "id long, dv long")
    merge_into_parquet(
        spark,
        path,
        updates,
        key="id",
        set_exprs={"v": F.coalesce(F.col("t.v"), F.lit(0)) + F.col("u.dv")},
        insert_missing=True,
    )
    rows = {r.id: (r.v, r.tag) for r in U.read_merge_table(spark, path).collect()}
    assert rows[100] == (7, None)
    assert len(rows) == 5
    [b] = _buckets_of(spark, [100], 8)
    only_b = DL.read_delta_table(spark, path, partition_filter={"__bucket__": [str(b)]})
    assert 100 in {r.id for r in only_b.collect()}
    adds = [a["add"] for a in DL._read_commit_actions(path, 1) if "add" in a]
    assert [a["partitionValues"] for a in adds] == [{"__bucket__": str(b)}]


def test_bucketed_merge_empty_updates_still_advances_marker(spark, tmp_path):
    """An empty batch with an applied batch id still records the id (a
    txn-only commit), so its redelivery is skipped."""
    path = str(tmp_path / "bt")
    _seed_bucketed(spark, path, n_rows=4)
    updates = spark.createDataFrame([], "id long, dv long")
    for _ in range(2):  # the second call is a redelivery
        merge_into_parquet(
            spark,
            path,
            updates,
            key="id",
            set_exprs={"v": F.col("t.v") + F.col("u.dv")},
            applied_batch_id=42,
        )
    assert DL.delta_versions(path) == [0, 1]
    assert DL.last_txn_version(spark, path, U._APPLIED_BATCH_APP) == 42
    assert not any(
        "add" in a or "remove" in a for a in DL._read_commit_actions(path, 1)
    )
    assert U.read_merge_table(spark, path).count() == 4


def test_bucketed_and_full_rewrite_merge_agree(spark, tmp_path):
    """Property: the bucket-pruned merge and a whole-table rewrite (the
    same MERGE on a one-file unpartitioned Delta table) produce the
    identical table for identical inputs (updates hitting several
    buckets, inserts, and untouched rows)."""
    df = spark.range(200).select(
        F.col("id"), (F.col("id") * 3).alias("v"), F.lit("t").alias("tag")
    )
    plain = str(tmp_path / "plain")
    bucketed = str(tmp_path / "bucketed")
    DL.create_delta_table(spark, plain, df.coalesce(1))
    U.create_bucketed_table(spark, bucketed, df, key="id", n_buckets=8)

    updates = spark.createDataFrame(
        [(7, 100), (63, 200), (64, 300), (500, 400)], "id long, dv long"
    )
    exprs = {"v": F.coalesce(F.col("t.v"), F.lit(0)) + F.col("u.dv")}
    for path in (plain, bucketed):
        merge_into_parquet(
            spark, path, updates, key="id", set_exprs=exprs, insert_missing=True
        )
    assert _merge_metrics(plain, 1)["numTargetFilesScanned"] == 1  # the whole table
    assert _merge_metrics(bucketed, 1)["pruneMode"] == "bucket"

    a = {(r.id, r.v, r.tag) for r in DL.read_delta_table(spark, plain).collect()}
    b = {(r.id, r.v, r.tag) for r in U.read_merge_table(spark, bucketed).collect()}
    assert a == b
    assert (500, 400, None) in a


# ---------------------------------------------------------------------------
# Crash safety and concurrency: the log commit is the only commit point
# ---------------------------------------------------------------------------
def test_merge_recovers_from_crashed_prior_run(spark, tmp_path, monkeypatch):
    """A merge that dies before its commit leaves staged files in the
    touched bucket directories but no log entry: readers never see them,
    the next merge runs normally, and VACUUM's listing sweep reclaims
    the orphans from the `__bucket__=` directories."""
    path = str(tmp_path / "bt")
    _seed_bucketed(spark, path)
    before = _bucketed_state(spark, path)
    upd = {"v": F.col("t.v") + F.col("u.dv")}
    updates = spark.createDataFrame([(1, 1), (2, 1)], "id long, dv long")

    def die(*_a, **_k):
        raise Boom("simulated crash before the commit")

    with monkeypatch.context() as m:
        m.setattr(DL, "_write_commit", die)
        with pytest.raises(Boom):
            merge_into_parquet(spark, path, updates, key="id", set_exprs=upd)
    orphans = _parquet_on_disk(path) - _logged_files(spark, path)
    assert orphans and all(o.startswith("__bucket__=") for o in orphans)
    assert DL.delta_versions(path) == [0]
    assert _bucketed_state(spark, path) == before

    merge_into_parquet(spark, path, updates, key="id", set_exprs=upd)
    after = _bucketed_state(spark, path)
    assert after[1] == 11 and after[2] == 21 and len(after) == 64

    deleted = DL.vacuum_delta(spark, path, retention_ms=0, force_listing_sweep=True)
    assert {DL._decode_path(p) for p in deleted} >= orphans
    assert not (_parquet_on_disk(path) & orphans)
    assert _bucketed_state(spark, path) == after


def test_crash_before_commit_leaves_table_unchanged_then_replays_exactly_once(
    spark, tmp_path, monkeypatch
):
    """THE K4 atomicity contract: kill a multi-bucket merge after its
    files are staged but before its commit → the table reads as if the
    merge never ran (all-or-nothing), the applied batch id is NOT
    recorded, and the at-least-once redelivery lands the batch exactly
    once — no lost rows, no double-apply."""
    path = str(tmp_path / "bt")
    _seed_bucketed(spark, path)  # ids 0..63, v = id*10
    before = _bucketed_state(spark, path)
    # updates spanning several buckets, additive (double-apply detectable)
    updates = spark.createDataFrame([(i, 1) for i in range(0, 64, 7)], "id long, dv long")
    upd = {"v": F.col("t.v") + F.col("u.dv")}

    def die(*_a, **_k):
        raise Boom("simulated crash before the commit")

    with monkeypatch.context() as m:
        m.setattr(DL, "_write_commit", die)
        with pytest.raises(Boom):
            merge_into_parquet(spark, path, updates, "id", upd, applied_batch_id=42)
    assert DL.last_txn_version(spark, path, U._APPLIED_BATCH_APP) is None
    assert _bucketed_state(spark, path) == before

    for _ in range(2):  # redelivery, then a second redelivery
        merge_into_parquet(spark, path, updates, "id", upd, applied_batch_id=42)
    expected = dict(before)
    for i in range(0, 64, 7):
        expected[i] += 1
    assert _bucketed_state(spark, path) == expected  # +1 exactly once
    assert DL.delta_versions(path) == [0, 1]
    assert DL.last_txn_version(spark, path, U._APPLIED_BATCH_APP) == 42


def test_crash_after_commit_rolls_forward_and_skips_redelivery(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER the commit JSON lands (here: in the post-commit
    checkpoint step): the merge is committed — readers see it, and the
    redelivered batch sees its txn and is skipped (no double-apply)."""
    path = str(tmp_path / "bt")
    _seed_bucketed(spark, path)
    updates = spark.createDataFrame([(3, 1), (11, 2)], "id long, dv long")
    upd = {"v": F.col("t.v") + F.col("u.dv")}

    def die(*_a, **_k):
        raise Boom("simulated crash after the commit")

    with monkeypatch.context() as m:
        m.setattr(DL, "_maybe_checkpoint", die)
        with pytest.raises(Boom):
            merge_into_parquet(spark, path, updates, "id", upd, applied_batch_id=7)
    committed = _bucketed_state(spark, path)
    assert committed[3] == 31 and committed[11] == 112

    merge_into_parquet(spark, path, updates, "id", upd, applied_batch_id=7)
    assert _bucketed_state(spark, path) == committed
    assert DL.delta_versions(path) == [0, 1]


def test_pair_perf_upserter_skips_after_rolled_forward_crash(
    spark, tmp_path, monkeypatch
):
    """End-to-end through the SHIPPED streaming batch handler: a batch
    whose merge committed but whose process died right after is skipped
    on redelivery — its txn action is in the log."""
    from financial_arbitrage_data_pipeline_spark.operators.streaming_queries import (
        make_pair_perf_upserter,
    )

    table = str(tmp_path / "pair_perf")
    upsert_batch = make_pair_perf_upserter(spark, table)
    batch = spark.createDataFrame(
        [(1, 100, "purchase", 2.5), (2, 100, "purchase", 1.0)],
        "event_id long, user_id long, event_type string, value double",
    )

    def die(*_a, **_k):
        raise Boom("simulated crash after the commit")

    with monkeypatch.context() as m:
        m.setattr(DL, "_maybe_checkpoint", die)
        with pytest.raises(Boom):
            upsert_batch(batch, 0)

    def totals():
        return {
            r.pair_id: (r.total_trades, r.total_volume, r.total_cost_cents)
            for r in U.read_merge_table(spark, table).collect()
        }

    once = totals()
    assert once[100][0] == 2
    upsert_batch(batch, 0)  # redelivery must be SKIPPED, not re-merged
    assert totals() == once


def test_racing_merges_retry_and_lose_no_update(spark, tmp_path, monkeypatch):
    """Optimistic concurrency: a second writer commits while the first
    has already staged its files for the same version. The first loses
    the put-if-absent race, removes its staged files, retries on the new
    head — and both additive updates land."""
    path = str(tmp_path / "bt")
    _seed_bucketed(spark, path, n_rows=16)
    add = {"v": F.col("t.v") + F.col("u.dv")}
    first = spark.createDataFrame([(i, 1) for i in range(16)], "id long, dv long")
    second = spark.createDataFrame([(i, 100) for i in range(0, 16, 2)], "id long, dv long")

    real = DL._materialize_files
    raced = []

    def racing_materialize(*args, **kwargs):
        out = real(*args, **kwargs)
        if not raced:  # the other writer commits in this window
            raced.append(True)
            merge_into_parquet(spark, path, second, "id", add)
        return out

    monkeypatch.setattr(DL, "_materialize_files", racing_materialize)
    merge_into_parquet(spark, path, first, "id", add)
    monkeypatch.setattr(DL, "_materialize_files", real)

    got = _bucketed_state(spark, path)
    assert got == {i: i * 10 + 1 + (100 if i % 2 == 0 else 0) for i in range(16)}
    assert DL.delta_versions(path) == [0, 1, 2]
    # the loser cleaned its staged files: nothing on disk outside the log
    assert _parquet_on_disk(path) <= _logged_files(spark, path)


def test_applied_batch_id_rechecked_under_the_merge_lock(spark, tmp_path, monkeypatch):
    """The redelivered-batch check is atomic with the commit: a zombie
    driver whose merge of batch 7 is already staged when a failover
    driver commits batch 7 loses the version race, re-checks the txn on
    the new head and becomes a no-op instead of double-counting."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(1, 10)], "k long, v long")
    U.create_bucketed_table(spark, target, base, "k", n_buckets=4)
    updates = spark.createDataFrame([(1, 5)], "k long, dv long")
    add = {"v": F.col("t.v") + F.col("u.dv")}

    real = DL._materialize_files
    raced = []

    def failover_commits_first(*args, **kwargs):
        out = real(*args, **kwargs)
        if not raced:
            raced.append(True)
            merge_into_parquet(spark, target, updates, "k", add, applied_batch_id=7)
        return out

    monkeypatch.setattr(DL, "_materialize_files", failover_commits_first)
    merge_into_parquet(spark, target, updates, "k", add, applied_batch_id=7)
    monkeypatch.setattr(DL, "_materialize_files", real)
    assert _snap(spark, target) == {1: 15}  # applied once, by the failover
    assert DL.delta_versions(target) == [0, 1]

    # a genuinely new batch applies and advances the recorded id
    merge_into_parquet(spark, target, updates, "k", add, applied_batch_id=8)
    assert _snap(spark, target) == {1: 20}
    assert DL.last_txn_version(spark, target, U._APPLIED_BATCH_APP) == 8


# ---------------------------------------------------------------------------
# History: time travel, change feed, retention
# ---------------------------------------------------------------------------
def test_history_asof_reconstructs_every_version(spark, tmp_path):
    """read_merge_table_asof(v) reproduces the exact table state after
    commit v, for every v, including keys first INSERTED by a later
    merge (absent in earlier versions)."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long")
    U.create_bucketed_table(spark, target, base, "k", n_buckets=4)
    snapshots = {0: _snap(spark, target)}

    batches = [
        [(3, 333)],                 # update one bucket
        [(7, 777), (100, 1000)],    # update + INSERT a brand-new key
        [(3, 3333), (100, 1001)],   # touch both again
    ]
    for n, rows in enumerate(batches, start=1):
        upd = spark.createDataFrame(rows, "k long, v long")
        U.merge_into_parquet(
            spark, target, upd, "k", {"v": F.col("u.v")}, insert_missing=True
        )
        snapshots[n] = _snap(spark, target)

    assert U.history_versions(target) == [0, 1, 2, 3]
    for v, expected in snapshots.items():
        got = {r.k: r.v for r in U.read_merge_table_asof(spark, target, v).collect()}
        assert got == expected, f"version {v}"
    assert 100 not in snapshots[1] and snapshots[2][100] == 1000
    with pytest.raises(ValueError, match="not readable"):
        U.read_merge_table_asof(spark, target, 4)


def test_history_archive_is_crash_safe_and_exactly_once(spark, tmp_path, monkeypatch):
    """A merge that dies right after its commit adds exactly ONE version
    to the history; every version still reconstructs and the next merge
    takes the next version number."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long")
    U.create_bucketed_table(spark, target, base, "k", n_buckets=4)
    v0 = _snap(spark, target)

    def die(*_a, **_k):
        raise Boom("simulated crash after the commit")

    with monkeypatch.context() as m:
        m.setattr(DL, "_maybe_checkpoint", die)
        with pytest.raises(Boom):
            U.merge_into_parquet(
                spark, target, spark.createDataFrame([(5, 55)], "k long, v long"),
                "k", {"v": F.col("u.v")},
            )
    v1 = _snap(spark, target)
    assert U.history_versions(target) == [0, 1] and v1[5] == 55
    U.merge_into_parquet(
        spark, target, spark.createDataFrame([(5, 56)], "k long, v long"),
        "k", {"v": F.col("u.v")},
    )
    assert U.history_versions(target) == [0, 1, 2]
    got0 = {r.k: r.v for r in U.read_merge_table_asof(spark, target, 0).collect()}
    got1 = {r.k: r.v for r in U.read_merge_table_asof(spark, target, 1).collect()}
    assert got0 == v0 and got1 == v1


def test_vacuum_floor_is_monotone(spark, tmp_path):
    """vacuum_merge_history checkpoints at the floor and drops the
    commits below it, so a later vacuum with a LARGER keep_last cannot
    lower the floor (the versions below it are physically gone), reads
    below the floor fail with the version-not-readable error, and the
    only data files left are those versions at or above the floor use."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(i, i) for i in range(10)], "k long, v long")
    U.create_bucketed_table(spark, target, base, "k", n_buckets=2)
    for n in range(4):
        U.merge_into_parquet(
            spark, target,
            spark.createDataFrame([(1, 100 + n)], "k long, v long"),
            "k", {"v": F.col("u.v")},
        )
    assert U.history_versions(target) == [0, 1, 2, 3, 4]
    # aggressive vacuum first: floor rises to 3
    assert U.vacuum_merge_history(spark, target, keep_last=1) == [0, 1, 2]
    assert U.history_versions(target) == [3, 4]
    # then a LAXER vacuum (keep_last=3 → cutoff 1 < floor 3): no-op
    assert U.vacuum_merge_history(spark, target, keep_last=3) == []
    assert U.history_versions(target) == [3, 4]
    with pytest.raises(ValueError, match="not readable"):
        U.read_merge_table_asof(spark, target, 2)
    got = {r.k: r.v for r in U.read_merge_table_asof(spark, target, 3).collect()}
    assert got[1] == 102
    assert _snap(spark, target)[1] == 103
    used = {
        DL._decode_path(p)
        for v in (3, 4)
        for p in DL.replay_state(spark, target, v).files
    }
    assert _parquet_on_disk(target) == used


def test_change_feed_detects_update_and_insert_delta_sized(spark, tmp_path, monkeypatch):
    """merge_table_changes: between two versions it must emit exactly
    the changed keys — updates with both images, inserts with a null
    old image — and nothing for untouched keys, reading only the buckets
    the intervening commits touched."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long")
    U.create_bucketed_table(spark, target, base, "k", n_buckets=4)
    U.merge_into_parquet(
        spark, target,
        spark.createDataFrame([(3, 333)], "k long, v long"),
        "k", {"v": F.col("u.v")},
    )
    U.merge_into_parquet(
        spark, target,
        spark.createDataFrame([(3, 3333), (100, 1000)], "k long, v long"),
        "k", {"v": F.col("u.v")}, insert_missing=True,
    )

    filters = []
    real_read = U.read_delta_table

    def spy(*args, **kwargs):
        filters.append(kwargs.get("partition_filter"))
        return real_read(*args, **kwargs)

    monkeypatch.setattr(U, "read_delta_table", spy)
    feed = {
        r.k: (r.change_type, r.old, r.new)
        for r in U.merge_table_changes(spark, target, 1, 2, "k").collect()
    }
    touched = {str(b) for b in _buckets_of(spark, [3, 100], 4)}
    assert filters and all(set(f["__bucket__"]) == touched for f in filters)
    assert len(touched) < 4
    monkeypatch.setattr(U, "read_delta_table", real_read)

    assert set(feed) == {3, 100}
    ct, old, new = feed[3]
    assert ct == "update" and old.v == 333 and new.v == 3333
    ct, old, new = feed[100]
    assert ct == "insert" and old is None and new.v == 1000

    # whole-range feed vs version 0: key 3's old image is the seed value
    feed0 = {
        r.k: (r.change_type, r.old, r.new)
        for r in U.merge_table_changes(spark, target, 0, 2, "k").collect()
    }
    assert feed0[3][1].v == 30 and feed0[3][2].v == 3333
    with pytest.raises(ValueError, match="from_version < to_version"):
        U.merge_table_changes(spark, target, 2, 1, "k")


def test_streaming_upserter_with_history_gives_per_batch_time_travel(
    spark, tmp_path, sf_dir
):
    """Integration: the SHIPPED streaming pair-perf upserter
    (foreachBatch MERGE, exactly-once txn) yields one committed version
    per non-empty micro-batch, and read_merge_table_asof(k) equals the
    batch recompute over the first k chunks — continuous aggregate +
    time travel composed."""
    from financial_arbitrage_data_pipeline_spark.operators.streaming_queries import (
        make_pair_perf_upserter,
    )
    from financial_arbitrage_data_pipeline_spark.streaming import ingest

    replay_dir = str(tmp_path / "replay")
    n_chunks = 3
    ingest.write_replay_chunks(spark, sf_dir, replay_dir, n_chunks=n_chunks)
    table = str(tmp_path / "pair_perf")
    q = (
        ingest.replay_stream(spark, replay_dir)
        .writeStream.foreachBatch(make_pair_perf_upserter(spark, table))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    versions = U.history_versions(table)
    assert versions[0] == 0 and len(versions) >= n_chunks + 1

    # asof after the FIRST merge == recompute over chunk files that fed
    # batch 0 (chunks are time-ordered; batch k reads chunk k)
    import glob

    chunks = sorted(glob.glob(replay_dir + "/*.parquet"))
    assert len(chunks) == n_chunks

    def recompute(paths):
        df = spark.read.parquet(*paths)
        qty = F.col("event_id") % 10 + 1
        cents = F.round(F.col("value") * 100).cast("long")
        return {
            r.pair_id: (r.t, r.v, r.c)
            for r in df.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("pair_id"), qty.alias("q"), (qty * cents).alias("cc"))
            .groupBy("pair_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("t"),
                F.sum("q").cast("long").alias("v"),
                F.sum("cc").cast("long").alias("c"),
            )
            .collect()
        }

    for k in (1, len(versions) - 1):
        got = {
            r.pair_id: (r.total_trades, r.total_volume, r.total_cost_cents)
            for r in U.read_merge_table_asof(spark, table, versions[k]).collect()
        }
        exp = recompute(chunks[: k if k < len(versions) - 1 else n_chunks])
        assert got == exp, f"version index {k}"

    # the change feed between first and last version covers exactly the
    # pairs that traded after batch 0
    feed = U.merge_table_changes(spark, table, versions[1], versions[-1], "pair_id")
    later = recompute(chunks[1:])
    assert {r.pair_id for r in feed.collect()} == set(later)


def test_asof_vacuum_merge_triangle_fuzz(spark, tmp_path):
    """VERDICT r9 task 7: property-fuzz the reader/vacuum/merge
    interleavings. A reader holding an as-of plan while merges advance
    the head and vacuums delete older versions' files must FAIL LOUDLY
    or return exactly the version's content — never a mix of versions."""
    import random

    from py4j.protocol import Py4JJavaError

    def build(tag):
        target = str(tmp_path / f"t_{tag}")
        base = spark.createDataFrame([(i, 0) for i in range(24)], "k long, v long")
        U.create_bucketed_table(spark, target, base, "k", n_buckets=4)
        for ver in (1, 2, 3):
            advance(target, ver, step=ver)
        return target

    def advance(target, ver, step=2):
        U.merge_into_parquet(
            spark,
            target,
            spark.createDataFrame(
                [(i, ver * 100 + i) for i in range(0, 24, step)], "k long, dv long"
            ),
            key="k",
            set_exprs={"v": F.col("u.dv")},
        )

    rnd = random.Random(9)
    loud = consistent = 0
    for trial in range(6):
        target = build(trial)
        expected = {
            r.k: r.v for r in U.read_merge_table_asof(spark, target, 2).collect()
        }
        df = U.read_merge_table_asof(spark, target, 2)
        actions = []
        next_ver = 4
        for _ in range(2):  # mutate AFTER the plan exists, before the action
            a = rnd.choice(["merge", "vacuum", "none"])
            actions.append(a)
            if a == "merge":
                advance(target, next_ver)
                next_ver += 1
            elif a == "vacuum":
                U.vacuum_merge_history(spark, target, keep_last=0)
        try:
            got = {r.k: r.v for r in df.collect()}
        except (Py4JJavaError, Exception) as exc:  # noqa: BLE001
            msg = str(exc)
            assert (
                "FileNotFound" in msg
                or "does not exist" in msg
                or "PATH_NOT_FOUND" in msg
                or "FILE_NOT_EXIST" in msg.upper()
            ), msg[:500]
            loud += 1
            continue
        assert got == expected, (
            f"trial {trial} actions {actions}: MIXED VERSIONS "
            f"(diff keys: { {k for k in got if got[k] != expected.get(k)} })"
        )
        consistent += 1
    # the fuzz must have exercised both legal outcomes across trials
    assert loud + consistent == 6
    assert consistent >= 1 and loud >= 1


# ---------------------------------------------------------------------------
# Schema evolution
# ---------------------------------------------------------------------------
def test_schema_evolution_widens_without_rewriting_untouched_buckets(spark, tmp_path):
    """VERDICT r9 task 6: an evolving merge adds the source's new column
    to the table — matched rows take the value, untouched rows read
    null — while untouched buckets keep their pre-evolution files
    byte-identical (the widening is metadata + touched buckets only)."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(i, i * 10) for i in range(40)], "k long, v long")
    U.create_bucketed_table(spark, target, base, "k", n_buckets=8)

    def bucket_files():
        out = {}
        for e in os.listdir(target):
            if e.startswith("__bucket__="):
                d = os.path.join(target, e)
                out[e] = {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}
        return out

    before = bucket_files()
    updates = spark.createDataFrame(
        [(3, 99, "alpha"), (17, 77, "beta")], "k long, v long, tag string"
    )
    U.merge_into_parquet(
        spark, target, updates, key="k", set_exprs={"v": F.col("u.v")}, evolve_schema=True
    )
    got = {r.k: (r.v, r.tag) for r in U.read_merge_table(spark, target).collect()}
    assert got[3] == (99, "alpha") and got[17] == (77, "beta")
    assert all(tag is None for k, (v, tag) in got.items() if k not in (3, 17))
    assert len(got) == 40

    after = bucket_files()
    touched = _buckets_of(spark, [3, 17], 8)
    untouched_same = 0
    for name, files in before.items():
        if int(name.split("=")[1]) in touched:
            continue
        assert after[name] == files, name
        untouched_same += 1
    assert untouched_same >= 1  # the layout genuinely skipped buckets

    # a second NON-evolving merge still works on the widened table
    U.merge_into_parquet(
        spark, target, spark.createDataFrame([(3, 1)], "k long, dv long"),
        key="k", set_exprs={"v": F.col("t.v") + F.col("u.dv")},
    )
    got2 = {r.k: (r.v, r.tag) for r in U.read_merge_table(spark, target).collect()}
    assert got2[3] == (100, "alpha")  # evolved column survives


def test_schema_evolution_time_travel_reads_old_schema(spark, tmp_path):
    """A pre-evolution version's as-of read presents the OLD schema (its
    metaData predates the widening); post-evolution versions read
    widened with nulls."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(i, i) for i in range(20)], "k long, v long")
    U.create_bucketed_table(spark, target, base, "k", n_buckets=4)
    U.merge_into_parquet(
        spark, target, spark.createDataFrame([(1, 100)], "k long, v long"),
        key="k", set_exprs={"v": F.col("u.v")},
    )  # version 1, old schema
    U.merge_into_parquet(
        spark, target, spark.createDataFrame([(2, 200, "x")], "k long, v long, tag string"),
        key="k", set_exprs={"v": F.col("u.v")}, evolve_schema=True,
    )  # version 2, widened

    v1 = U.read_merge_table_asof(spark, target, 1)
    assert "tag" not in v1.columns
    assert {r.k: r.v for r in v1.collect()}[1] == 100

    v2 = U.read_merge_table_asof(spark, target, 2)
    assert "tag" in v2.columns
    rows = {r.k: (r.v, r.tag) for r in v2.collect()}
    assert rows[2] == (200, "x")
    assert rows[1] == (100, None)


def test_schema_evolution_crash_rolls_forward_with_marker(spark, tmp_path, monkeypatch):
    """The evolving merge rides the same single commit: a crash before it
    lands leaves the old schema and data untouched, and a clean retry
    widens the table exactly once."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(i, i) for i in range(20)], "k long, v long")
    U.create_bucketed_table(spark, target, base, "k", n_buckets=4)
    updates = spark.createDataFrame([(1, 11, "a"), (2, 22, "b")], "k long, v long, tag string")

    def die(*_a, **_k):
        raise Boom("simulated crash before the commit")

    with monkeypatch.context() as m:
        m.setattr(DL, "_write_commit", die)
        with pytest.raises(Boom):
            U.merge_into_parquet(
                spark, target, updates, "k", {"v": F.col("u.v")}, evolve_schema=True
            )
    assert "tag" not in U.read_merge_table(spark, target).columns
    assert _snap(spark, target)[1] == 1

    U.merge_into_parquet(spark, target, updates, "k", {"v": F.col("u.v")}, evolve_schema=True)
    metas = [a for a in DL._read_commit_actions(target, 1) if "metaData" in a]
    assert len(metas) == 1
    got = {r.k: (r.v, r.tag) for r in U.read_merge_table(spark, target).collect()}
    assert got[1] == (11, "a") and got[2] == (22, "b")
    assert got[5] == (5, None)


def test_change_feed_across_schema_evolution_boundary(spark, tmp_path):
    """The CDF spanning an evolving merge: the pre-evolution image
    conforms with typed nulls, so a touched row reads as an 'update'
    whose old image has tag=null and whose new image carries the
    value."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(i, i) for i in range(12)], "k long, v long")
    U.create_bucketed_table(spark, target, base, "k", n_buckets=4)
    U.merge_into_parquet(
        spark, target, spark.createDataFrame([(1, 100)], "k long, v long"),
        key="k", set_exprs={"v": F.col("u.v")},
    )  # v1
    U.merge_into_parquet(
        spark, target, spark.createDataFrame([(2, 200, "x")], "k long, v long, tag string"),
        key="k", set_exprs={"v": F.col("u.v")}, evolve_schema=True,
    )  # v2, widened

    rows = {r.k: r for r in U.merge_table_changes(spark, target, 1, 2, key="k").collect()}
    assert set(rows) == {2}
    r = rows[2]
    assert r.change_type == "update"
    assert r.old.tag is None and r.old.v == 2
    assert r.new.tag == "x" and r.new.v == 200


def test_evolve_cols_allowlist_keeps_helpers_join_side(spark, tmp_path):
    """With evolve_cols, updates columns that exist only as set_exprs
    helpers (here `dv`) are NOT persisted into the table schema — only
    the allowlisted column widens."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(i, i) for i in range(10)], "k long, v long")
    U.create_bucketed_table(spark, target, base, "k", n_buckets=4)
    updates = spark.createDataFrame([(3, 5, "kalshi")], "k long, dv long, venue string")
    U.merge_into_parquet(
        spark, target, updates, key="k",
        set_exprs={"v": F.col("t.v") + F.col("u.dv")},
        evolve_schema=True, evolve_cols=["venue"],
    )
    tbl = U.read_merge_table(spark, target)
    assert set(tbl.columns) == {"k", "v", "venue"}  # no dv pollution
    got = {r.k: (r.v, r.venue) for r in tbl.collect()}
    assert got[3] == (8, "kalshi")
    assert got[4] == (4, None)


def test_evolve_cols_validation(spark, tmp_path):
    """evolve_cols must name real updates columns and requires
    evolve_schema=True."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(1, 1)], "k long, v long")
    U.create_bucketed_table(spark, target, base, "k", n_buckets=2)
    updates = spark.createDataFrame([(1, 2)], "k long, v long")
    with pytest.raises(ValueError, match="evolve_schema"):
        U.merge_into_parquet(
            spark, target, updates, key="k",
            set_exprs={"v": F.col("u.v")}, evolve_cols=["venue"],
        )
    with pytest.raises(ValueError, match="not in updates"):
        U.merge_into_parquet(
            spark, target, updates, key="k",
            set_exprs={"v": F.col("u.v")},
            evolve_schema=True, evolve_cols=["venue"],
        )
    assert DL.delta_versions(target) == [0]


def test_evolved_col_coalesce_applies_in_every_batch(spark, tmp_path):
    """streaming_schema_drift's idiom: the coalesce(u.c, t.c) set_exprs
    must apply the evolved column in the WIDENING batch (t.c is a
    typed-null pad) AND in every later batch — a key first touched by a
    post-widening batch still gets its value, and a later batch with a
    null update value preserves the stored one."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(i, 0) for i in range(6)], "k long, n long")
    U.create_bucketed_table(spark, target, base, "k", n_buckets=2)
    venue_exprs = {
        "n": F.coalesce(F.col("t.n"), F.lit(0)) + F.col("u.dn"),
        "venue": F.coalesce(F.col("u.venue"), F.col("t.venue")),
    }
    # batch 0 (widening): touches k=1 only
    U.merge_into_parquet(
        spark, target,
        spark.createDataFrame([(1, 1, "poly")], "k long, dn long, venue string"),
        key="k", set_exprs=venue_exprs, insert_missing=True,
        evolve_schema=True, evolve_cols=["venue"],
    )
    # batch 1 (post-widening): k=2 first sees its venue HERE; k=7 inserted
    U.merge_into_parquet(
        spark, target,
        spark.createDataFrame(
            [(2, 1, "iex"), (7, 1, "kalshi")], "k long, dn long, venue string"
        ),
        key="k", set_exprs=venue_exprs, insert_missing=True,
    )
    # batch 2: k=1 updated with a NULL venue — stored value must survive
    U.merge_into_parquet(
        spark, target,
        spark.createDataFrame([(1, 1, None)], "k long, dn long, venue string"),
        key="k", set_exprs=venue_exprs, insert_missing=True,
    )
    got = {r.k: (r.n, r.venue) for r in U.read_merge_table(spark, target).collect()}
    assert got[1] == (2, "poly")
    assert got[2] == (1, "iex")
    assert got[7] == (1, "kalshi")
    assert got[0] == (0, None)


# ---------------------------------------------------------------------------
# Re-bucketing
# ---------------------------------------------------------------------------
def test_rebucket_preserves_data_and_changes_modulus(spark, tmp_path):
    """rebucket_merge_table: one commit; data identical, new modulus
    effective (every file's bucket matches pmod(xxhash64(key), new_n)),
    the applied batch id carried over (it lives in the log), as-of
    reads from before the rebucket still match, and merges after it
    prune at the new granularity."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(i, i * 10) for i in range(50)], "k long, v long")
    U.create_bucketed_table(spark, target, base, "k", n_buckets=4)
    U.merge_into_parquet(
        spark, target, spark.createDataFrame([(5, 1)], "k long, dv long"),
        "k", {"v": F.col("t.v") + F.col("u.dv")}, applied_batch_id=7,
    )
    before = {v: _snap(spark, target) for v in (1,)}
    v0 = {r.k: r.v for r in U.read_merge_table_asof(spark, target, 0).collect()}

    U.rebucket_merge_table(spark, target, "k", n_buckets=16)

    assert DL.delta_versions(target) == [0, 1, 2]
    state = DL.replay_state(spark, target)
    assert DL.bucket_spec(state.metadata) == ("k", 16)
    assert DL.last_txn_version(spark, target, U._APPLIED_BATCH_APP) == 7
    assert _snap(spark, target) == before[1]
    full = DL.read_delta_table(spark, target)
    mism = full.filter(F.col("__bucket__") != DL.bucket_of(F.col("k"), 16))
    assert mism.count() == 0
    assert {r.k: r.v for r in U.read_merge_table_asof(spark, target, 0).collect()} == v0
    assert {r.k: r.v for r in U.read_merge_table_asof(spark, target, 1).collect()} == before[1]

    updates = spark.createDataFrame([(3, 999)], "k long, v long")
    U.merge_into_parquet(spark, target, updates, "k", {"v": F.col("u.v")})
    got = _snap(spark, target)
    assert got[3] == 999 and got[4] == 40
    metrics = _merge_metrics(target, 3)
    assert metrics["pruneMode"] == "bucket" and metrics["numTargetFilesScanned"] == 1


def test_rebucket_rejects_unbucketed_and_concurrent_writer(spark, tmp_path, monkeypatch):
    """Re-bucketing refuses a table that is not a bucketed merge table.
    A merge that commits while the rebucket is rewriting makes the
    rebucket lose the version race, remove its staged files and rebuild
    on the new head: the merge's update is kept and the new modulus
    lands."""
    plain = str(tmp_path / "plain")
    DL.create_delta_table(spark, plain, spark.createDataFrame([(1, 1)], "k long, v long"))
    with pytest.raises(ValueError, match="not a bucketed merge table"):
        U.rebucket_merge_table(spark, plain, "k", 8)

    target = str(tmp_path / "t")
    U.create_bucketed_table(
        spark, target, spark.createDataFrame([(1, 1), (2, 2)], "k long, v long"), "k", n_buckets=2,
    )
    real = DL._materialize_files
    raced = []

    def merge_meanwhile(*args, **kwargs):
        out = real(*args, **kwargs)
        if not raced:  # a merge commits while the rebucket is staged
            raced.append(True)
            U.merge_into_parquet(
                spark, target, spark.createDataFrame([(1, 5)], "k long, v long"),
                "k", {"v": F.col("u.v")},
            )
        return out

    monkeypatch.setattr(DL, "_materialize_files", merge_meanwhile)
    U.rebucket_merge_table(spark, target, "k", 8)
    monkeypatch.setattr(DL, "_materialize_files", real)
    assert DL.delta_versions(target) == [0, 1, 2]  # merge v1, rebucket v2
    assert DL.bucket_spec(DL.replay_state(spark, target).metadata) == ("k", 8)
    assert _snap(spark, target) == {1: 5, 2: 2}
    assert _parquet_on_disk(target) <= _logged_files(spark, target)
