"""Delta transaction log: protocol conformance, replay, checkpoints,
OPTIMIZE/VACUUM and the one-scan reader.

Conformance targets are the openly published Delta PROTOCOL.md fields,
checked on the merge table's own log (`create_bucketed_table` writes a
`__bucket__`-partitioned Delta table).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from financial_arbitrage_data_pipeline_spark.operators.upsert import (
    create_bucketed_table,
    merge_into_parquet,
)
from financial_arbitrage_data_pipeline_spark.sources.delta_log import (
    _latest_checkpoint_at_or_below,
    commit_append,
    create_delta_table,
    delta_versions,
    read_delta_table,
    replay_state,
)


def _mk_merge_table(spark, tdir):
    """Tiny merge table with two merges."""
    seed = spark.createDataFrame(
        [(i, i * 10, "init") for i in range(40)], "k long, v long, tag string"
    )
    create_bucketed_table(spark, tdir, seed, key="k", n_buckets=4)
    up1 = spark.createDataFrame(
        [(i, i * 100) for i in range(0, 40, 2)], "k long, v long"
    )
    merge_into_parquet(
        spark, tdir, up1, key="k",
        set_exprs={"v": F.col("u.v"), "tag": F.lit("m1")},
    )
    up2 = spark.createDataFrame(
        [(i, i * 1000) for i in range(1, 40, 4)], "k long, v long"
    )
    merge_into_parquet(
        spark, tdir, up2, key="k",
        set_exprs={"v": F.col("u.v")},
    )


def _log_lines(tdir, version):
    p = os.path.join(tdir, "_delta_log", f"{version:020d}.json")
    with open(p, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def test_merge_table_log_protocol_conformance(spark, tmp_path):
    """A merge table's own log: v0 carries protocol+metaData with the
    PROTOCOL.md-required fields, `__bucket__` as the partition column
    and the bucket key/modulus as configuration; every add is relative,
    partitioned, sized, stamped and stats-bearing; merges are DELTAS."""
    tdir = str(tmp_path / "t")
    _mk_merge_table(spark, tdir)
    assert delta_versions(tdir) == [0, 1, 2]

    v0 = _log_lines(tdir, 0)
    protos = [a["protocol"] for a in v0 if "protocol" in a]
    metas = [a["metaData"] for a in v0 if "metaData" in a]
    assert protos == [{"minReaderVersion": 1, "minWriterVersion": 2}]
    assert len(metas) == 1
    meta = metas[0]
    assert meta["format"] == {"provider": "parquet", "options": {}}
    assert meta["partitionColumns"] == ["__bucket__"]
    assert meta["configuration"] == {
        "spark-graft.bucketKey": "k",
        "spark-graft.numBuckets": "4",
    }
    schema_json = json.loads(meta["schemaString"])
    assert schema_json["type"] == "struct"
    assert {f["name"] for f in schema_json["fields"]} == {"k", "v", "tag", "__bucket__"}

    for ver in (0, 1, 2):
        for a in _log_lines(tdir, ver):
            if "add" in a:
                add = a["add"]
                assert not add["path"].startswith("/")
                bucket = add["partitionValues"]["__bucket__"]
                assert 0 <= int(bucket) < 4
                assert add["path"].startswith(f"__bucket__%3D{bucket}/")
                assert add["size"] > 0 and add["modificationTime"] > 0
                assert add["dataChange"] is True
                assert json.loads(add["stats"])["numRecords"] >= 0
            if "remove" in a:
                assert a["remove"]["deletionTimestamp"] > 0
                assert "__bucket__" in a["remove"]["partitionValues"]

    # later commits are DELTAS: v1/v2 emit removes for replaced buckets
    v1 = _log_lines(tdir, 1)
    assert any("remove" in a for a in v1) and any("add" in a for a in v1)
    # no repeated metaData when the schema did not change
    assert not any("metaData" in a for a in v1)


def test_checkpoint_written_and_sufficient(spark, tmp_path):
    """Crossing the interval writes {v}.checkpoint.parquet +
    _last_checkpoint; replay works with the pre-checkpoint JSONs gone
    and equals the full-history replay."""
    tdir = str(tmp_path / "t")
    df0 = spark.createDataFrame([(0, "a")], "k long, s string")
    create_delta_table(
        spark, tdir, df0, configuration={"delta.checkpointInterval": "5"}
    )
    for i in range(1, 8):
        commit_append(
            spark, tdir,
            spark.createDataFrame([(i, f"s{i}")], "k long, s string"),
        )
    cp = _latest_checkpoint_at_or_below(tdir, 7)
    assert cp == 5
    lc = json.load(open(os.path.join(tdir, "_delta_log", "_last_checkpoint")))
    assert lc["version"] == 5 and lc["size"] > 0

    full = sorted(r["k"] for r in read_delta_table(spark, tdir).collect())
    assert full == list(range(8))
    # checkpoint parquet carries the protocol/metaData rows too
    state = replay_state(spark, tdir, 5)
    assert state.protocol and state.metadata

    for v in range(0, 5):
        os.remove(os.path.join(tdir, "_delta_log", f"{v:020d}.json"))
    pruned = sorted(r["k"] for r in read_delta_table(spark, tdir).collect())
    assert pruned == full

    # time travel BELOW the checkpoint with history gone fails loudly
    with pytest.raises(FileNotFoundError):
        read_delta_table(spark, tdir, version=3)


def test_txn_action_survives_checkpoint_pruning(spark, tmp_path):
    """The idempotent-writer handshake: txn versions are monotone per
    appId, ride the checkpoint rows, and stay queryable after the JSON
    history below the checkpoint is deleted."""
    from financial_arbitrage_data_pipeline_spark.sources.delta_log import (
        last_txn_version,
    )

    tdir = str(tmp_path / "t")
    create_delta_table(
        spark,
        tdir,
        spark.createDataFrame([(0,)], "k long"),
        configuration={"delta.checkpointInterval": "5"},
    )
    for i in range(1, 8):
        commit_append(
            spark, tdir,
            spark.createDataFrame([(i,)], "k long"),
            txn_app_id="sinkA", txn_version=i,
        )
    assert last_txn_version(spark, tdir, "sinkA") == 7
    assert last_txn_version(spark, tdir, "absent") is None
    for v in range(0, 5):
        os.remove(os.path.join(tdir, "_delta_log", f"{v:020d}.json"))
    # the checkpoint at v5 carries the txn row for batches 1..5
    assert last_txn_version(spark, tdir, "sinkA") == 7
    assert replay_state(spark, tdir, 5).txns == {"sinkA": 5}


def test_optimize_datachange_false_and_vacuum_retention(spark, tmp_path):
    """OPTIMIZE emits remove+add with dataChange=false (a layout-only
    commit per the protocol); VACUUM honors retention and never touches
    the active set."""
    from financial_arbitrage_data_pipeline_spark.sources.delta_log import (
        optimize_compact,
        vacuum_delta,
    )

    tdir = str(tmp_path / "t")
    create_delta_table(spark, tdir, spark.createDataFrame([(0,)], "k long"))
    for i in range(1, 6):
        commit_append(spark, tdir, spark.createDataFrame([(i,)], "k long"))
    before = sorted(r["k"] for r in read_delta_table(spark, tdir).collect())

    v = optimize_compact(spark, tdir, target_files=1)
    acts = _log_lines(tdir, v)
    assert all(
        a["remove"]["dataChange"] is False for a in acts if "remove" in a
    ) and all(a["add"]["dataChange"] is False for a in acts if "add" in a)
    assert any("remove" in a for a in acts) and any("add" in a for a in acts)
    assert sorted(r["k"] for r in read_delta_table(spark, tdir).collect()) == before

    # retention not yet expired: nothing is deleted
    assert vacuum_delta(spark, tdir, retention_ms=3_600_000) == []
    # expired: exactly the tombstoned small files go; active set intact
    state = replay_state(spark, tdir)
    deleted = vacuum_delta(spark, tdir, retention_ms=0)
    assert deleted and set(deleted).isdisjoint(state.files)
    for p in state.files:
        assert os.path.exists(os.path.join(tdir, p))
    assert sorted(r["k"] for r in read_delta_table(spark, tdir).collect()) == before


def test_partitioned_layout_and_pruned_read(spark, tmp_path):
    """Partition values live in add.partitionValues + Hive-style paths,
    NOT in the data files; appends inherit the layout from metaData;
    partition_filter prunes from the log alone (non-matching files can
    be deleted from disk and the filtered read never notices); OPTIMIZE
    preserves partitioning."""
    import pyarrow.parquet as pq

    from financial_arbitrage_data_pipeline_spark.sources.delta_log import (
        _decode_path,
        optimize_compact,
    )

    tdir = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i * 10) for i in range(20)], "k long, g string, v long"
    )
    create_delta_table(spark, tdir, df.filter("k < 10"), partition_by=["g"])
    commit_append(spark, tdir, df.filter("k >= 10"))

    state = replay_state(spark, tdir)
    meta = state.metadata
    assert meta["partitionColumns"] == ["g"]
    for p, a in state.files.items():
        assert a["partitionValues"]["g"] in ("a", "b")
        assert f"g={a['partitionValues']['g']}" in _decode_path(p)
        # protocol storage rule: the data file does NOT contain g
        cols = pq.ParquetFile(
            os.path.join(tdir, _decode_path(p))
        ).schema_arrow.names
        assert "g" not in cols

    full = read_delta_table(spark, tdir)
    assert sorted((r["k"], r["g"]) for r in full.collect()) == [
        (i, "ab"[i % 2]) for i in range(20)
    ]

    only_a = read_delta_table(spark, tdir, partition_filter={"g": ["a"]})
    assert sorted(r["k"] for r in only_a.collect()) == list(range(0, 20, 2))
    with pytest.raises(ValueError, match="non-partition"):
        read_delta_table(spark, tdir, partition_filter={"nope": ["x"]})

    v = optimize_compact(spark, tdir, target_files=1)
    state2 = replay_state(spark, tdir, v)
    assert {a["partitionValues"]["g"] for a in state2.files.values()} == {"a", "b"}
    assert len(state2.files) < len(state.files) or len(state.files) == 2

    # pruning is log-only: destroy partition b's files, read a fine
    for p, a in state2.files.items():
        if a["partitionValues"]["g"] == "b":
            os.remove(os.path.join(tdir, _decode_path(p)))
    still_a = read_delta_table(spark, tdir, partition_filter={"g": ["a"]})
    assert sorted(r["k"] for r in still_a.collect()) == list(range(0, 20, 2))


def test_replay_read_pushes_filters_and_prunes_columns(spark, tmp_path):
    """The log-replay scan stays a first-class Catalyst parquet scan:
    filters push into PushedFilters and projections prune ReadSchema —
    the bridge must not cost the optimizer anything."""
    tdir = str(tmp_path / "t")
    create_delta_table(
        spark,
        tdir,
        spark.createDataFrame(
            [(i, i * 10, f"s{i}") for i in range(100)], "k long, v long, s string"
        ),
    )
    df = read_delta_table(spark, tdir).filter("k > 50").select("k", "v")
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,50)]" in plan
    assert "ReadSchema: struct<k:bigint,v:bigint>" in plan


def test_commit_conflict_and_loud_guards(spark, tmp_path):
    """(a) committing an already-taken version raises DeltaCommitConflict
    instead of silently replacing it (put-if-absent, the protocol's
    commit atomicity); (b) a null partition value refuses loudly instead
    of landing as the __HIVE_DEFAULT_PARTITION__ literal."""
    from financial_arbitrage_data_pipeline_spark.sources.delta_log import (
        DeltaCommitConflict,
        _read_commit_actions,
        _write_commit,
    )

    tdir = str(tmp_path / "t")
    create_delta_table(spark, tdir, spark.createDataFrame([(1,)], "k long"))
    before = _read_commit_actions(tdir, 0)
    with pytest.raises(DeltaCommitConflict, match="version 0"):
        _write_commit(tdir, 0, [{"commitInfo": {"operation": "EVIL"}}])
    assert _read_commit_actions(tdir, 0) == before  # untouched

    with pytest.raises(NotImplementedError, match="null partition value"):
        create_delta_table(
            spark,
            str(tmp_path / "nullpart"),
            spark.createDataFrame([(1, None)], "k long, g string"),
            partition_by=["g"],
        )


# ---------------------------------------------------------------------------
# Concurrent writers: every writer rebuilds on the head it lost to
# ---------------------------------------------------------------------------
def _unreferenced_files(spark, tdir, suffix):
    """Files on disk with `suffix` that no retained commit references
    (as a data file, or as the deletion-vector file of an add)."""
    from financial_arbitrage_data_pipeline_spark.sources import delta_log as DL
    from financial_arbitrage_data_pipeline_spark.sources.deletion_vectors import (
        dv_absolute_path,
    )

    referenced = set()
    for v in delta_versions(tdir):
        state = replay_state(spark, tdir, v)
        for p, add in {**state.files, **state.tombstones}.items():
            referenced.add(os.path.abspath(os.path.join(tdir, DL._decode_path(p))))
            if add.get("deletionVector"):
                referenced.add(os.path.abspath(dv_absolute_path(tdir, add["deletionVector"])))
    on_disk = set()
    for root, dirs, files in os.walk(tdir):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        on_disk |= {os.path.abspath(os.path.join(root, f)) for f in files if f.endswith(suffix)}
    return on_disk - referenced


def _rows(spark, tdir):
    return sorted(tuple(r) for r in read_delta_table(spark, tdir).collect())


def test_racing_appends_both_land_exactly_once(spark, tmp_path, monkeypatch):
    """Two blind appends race for version 1: B commits it while A's
    files are already staged. A loses the put-if-absent race, deletes
    its staged files and commits v2 — both batches are present exactly
    once, neither caller raises, and no file on disk is outside the
    log (the staged names never alias across attempts)."""
    from financial_arbitrage_data_pipeline_spark.sources import delta_log as DL

    tdir = str(tmp_path / "t")
    create_delta_table(spark, tdir, spark.createDataFrame([(0, "seed")], "k long, s string"))
    a = spark.createDataFrame([(i, "A") for i in (1, 2, 3)], "k long, s string")
    b = spark.createDataFrame([(i, "B") for i in (100, 101, 102)], "k long, s string")

    real = DL._materialize_files
    raced = []

    def b_commits_meanwhile(*args, **kwargs):
        out = real(*args, **kwargs)
        if not raced:
            raced.append(True)
            assert commit_append(spark, tdir, b) == 1
        return out

    monkeypatch.setattr(DL, "_materialize_files", b_commits_meanwhile)
    assert commit_append(spark, tdir, a) == 2
    monkeypatch.setattr(DL, "_materialize_files", real)

    assert _rows(spark, tdir) == [
        (0, "seed"), (1, "A"), (2, "A"), (3, "A"), (100, "B"), (101, "B"), (102, "B")
    ]
    assert delta_versions(tdir) == [0, 1, 2]
    assert not _unreferenced_files(spark, tdir, ".parquet")


def test_dv_delete_overlapping_optimize_rebuilds_on_the_compacted_head(
    spark, tmp_path, monkeypatch
):
    """A DELETE whose row scan ran against v0 loses v1 to an OPTIMIZE
    that compacted the files it marked. It must not commit its DV on
    top of the compaction (that re-adds the compacted-away file and
    duplicates rows): it deletes its DV file and re-runs on the
    compacted head."""
    from financial_arbitrage_data_pipeline_spark.sources import deletion_vectors as DVM
    from financial_arbitrage_data_pipeline_spark.sources.delta_log import (
        delete_from_delta_table,
        optimize_compact,
    )

    tdir = str(tmp_path / "t")
    create_delta_table(spark, tdir, spark.range(0, 10, numPartitions=2).selectExpr("id as k"))
    real = DVM.write_dv_file
    raced = []

    def optimize_meanwhile(*args, **kwargs):
        if not raced:
            raced.append(True)
            assert optimize_compact(spark, tdir) == 1
        return real(*args, **kwargs)

    monkeypatch.setattr(DVM, "write_dv_file", optimize_meanwhile)
    assert delete_from_delta_table(spark, tdir, "k = 3") == 2
    monkeypatch.setattr(DVM, "write_dv_file", real)

    assert _rows(spark, tdir) == [(k,) for k in range(10) if k != 3]
    assert len(replay_state(spark, tdir).files) == 1  # the compacted file, with its DV
    assert not _unreferenced_files(spark, tdir, ".bin")


def test_txn_append_redelivered_during_the_race_is_a_no_op(spark, tmp_path, monkeypatch):
    """A zombie sink's append of batch 5 is staged when a failover sink
    commits batch 5 with the same txn appId. The zombie loses the
    version race, finds the txn recorded on the new head and returns
    None — the batch lands once, and the zombie's files are gone."""
    from financial_arbitrage_data_pipeline_spark.sources import delta_log as DL

    tdir = str(tmp_path / "t")
    create_delta_table(spark, tdir, spark.createDataFrame([(0, "seed")], "k long, s string"))
    batch = spark.createDataFrame([(7, "x"), (8, "y")], "k long, s string")

    real = DL._materialize_files
    raced = []

    def failover_commits_first(*args, **kwargs):
        out = real(*args, **kwargs)
        if not raced:
            raced.append(True)
            assert commit_append(spark, tdir, batch, txn_app_id="sink", txn_version=5) == 1
        return out

    monkeypatch.setattr(DL, "_materialize_files", failover_commits_first)
    assert commit_append(spark, tdir, batch, txn_app_id="sink", txn_version=5) is None
    monkeypatch.setattr(DL, "_materialize_files", real)

    assert _rows(spark, tdir) == [(0, "seed"), (7, "x"), (8, "y")]
    assert delta_versions(tdir) == [0, 1]
    assert DL.last_txn_version(spark, tdir, "sink") == 5
    assert not _unreferenced_files(spark, tdir, ".parquet")


def test_concurrent_appends_from_threads_all_land_once(spark, tmp_path):
    """Stress: six appending threads (more than the cores of a small
    box) against one table, with a short interpreter switch interval.
    Every writer commits its own version (none gives up: each lost race
    is another writer's commit, so a writer loses at most five, fewer
    than COMMIT_ATTEMPTS), every row lands exactly once, and no staged
    file or commit temp file survives outside the log."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from financial_arbitrage_data_pipeline_spark.sources.delta_log import COMMIT_ATTEMPTS

    tdir = str(tmp_path / "t")
    create_delta_table(spark, tdir, spark.createDataFrame([(0, 0)], "w long, k long"))
    n_writers = 6
    assert n_writers <= COMMIT_ATTEMPTS

    def append(w):
        rows = [(w, k) for k in range(3)]
        return commit_append(spark, tdir, spark.createDataFrame(rows, "w long, k long"))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(n_writers) as pool:
            futures = [pool.submit(append, w) for w in range(1, n_writers + 1)]
            versions = sorted(f.result(timeout=600) for f in futures)
    finally:
        sys.setswitchinterval(old)
    assert versions == list(range(1, n_writers + 1))
    assert _rows(spark, tdir) == [(0, 0)] + [
        (w, k) for w in range(1, n_writers + 1) for k in range(3)
    ]
    assert not _unreferenced_files(spark, tdir, ".parquet")
    assert not [f for f in os.listdir(os.path.join(tdir, "_delta_log")) if ".tmp." in f]


@pytest.mark.parametrize("seed", range(6))
def test_model_fuzz_lifecycle(spark, tmp_path, seed):
    """Model-based fuzz: a random sequence of append/optimize/vacuum
    ops (txn-stamped, random checkpoint intervals) against a plain
    Python list model. Invariants: HEAD read equals the model after
    EVERY op; time travel to any retained version is exact; vacuumed
    history fails LOUDLY, never silently wrong. (25-seed sweep ran at
    round close; 6 seeds here keep the suite budget.)"""
    import random

    from financial_arbitrage_data_pipeline_spark.sources.delta_log import (
        optimize_compact,
        vacuum_delta,
    )

    rng = random.Random(seed)
    tdir = str(tmp_path / "t")
    interval = rng.choice([2, 3, 5])
    model: list[tuple[int, int]] = []
    history: dict[int, list[tuple[int, int]]] = {}
    nxt = 0

    def batch(n):
        nonlocal nxt
        rows = [(nxt + i, rng.randrange(1000)) for i in range(n)]
        nxt += n
        return rows

    rows = batch(rng.randrange(0, 4))
    create_delta_table(
        spark,
        tdir,
        spark.createDataFrame(rows, "k long, v long"),
        configuration={"delta.checkpointInterval": str(interval)},
    )
    model += rows
    history[0] = list(model)
    for step in range(rng.randrange(4, 8)):
        op = rng.random()
        if op < 0.55:
            rows = batch(rng.randrange(0, 5))
            ver = commit_append(
                spark,
                tdir,
                spark.createDataFrame(rows, "k long, v long"),
                txn_app_id="fz",
                txn_version=step,
            )
            model += rows
            history[ver] = list(model)
        elif op < 0.8:
            ver = optimize_compact(spark, tdir, target_files=rng.choice([1, 2]))
            history[ver] = list(model)
        else:
            vacuum_delta(spark, tdir, retention_ms=0)
        got = sorted(
            (r["k"], r["v"]) for r in read_delta_table(spark, tdir).collect()
        )
        assert got == sorted(model), f"HEAD diverged from model after op {step}"
    head_ver = max(history)
    for ver, snap in history.items():
        try:
            got = sorted(
                (r["k"], r["v"])
                for r in read_delta_table(spark, tdir, version=ver).collect()
            )
        except Exception:
            assert ver < head_ver, "HEAD must stay readable"
            continue  # vacuumed history died loudly — allowed
        assert got == sorted(snap), f"time travel diverged at v{ver}"


def test_real_delta_reader_if_available(spark, tmp_path):
    """Auto-unskip interop gate (MIGRATION.md runbook): when a real
    delta-spark is importable, it must read our merge table
    byte-for-byte. Skipped self-documentingly in containers without
    the connector."""
    pytest.importorskip("delta")
    tdir = str(tmp_path / "t")
    _mk_merge_table(spark, tdir)
    real = spark.read.format("delta").load(tdir)
    ours = read_delta_table(spark, tdir)
    assert sorted(map(tuple, real.collect())) == sorted(map(tuple, ours.collect()))


def test_parquet_col_stats_complete_or_absent_per_row_group(tmp_path):
    """A stamped stat must cover EVERY row group or be absent entirely
    (code-review r11): a partial min/max over a row-group subset makes
    stats-based pruning skip files whose matching rows live in the
    uncovered groups (lost updates through _candidate_merge_paths).
    The non-UTF-8-binary path is the trap: row group 0 decodes, row
    group 1 doesn't — min/max must be dropped for the column while its
    nullCount stays exact over BOTH groups."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from financial_arbitrage_data_pipeline_spark.sources.delta_log import (
        _parquet_col_stats,
    )

    path = str(tmp_path / "f.parquet")
    # rg0: valid-utf8 binary, one null; rg1: invalid utf8, one null
    tbl = pa.table(
        {
            "b": pa.array([b"aa", None, b"zz", b"\xff\xfe", None, b"ok"],
                          type=pa.binary()),
            "k": pa.array([5, 3, 9, 1, 7, 2], type=pa.int64()),
        }
    )
    pq.write_table(tbl, path, row_group_size=3)
    md = pq.ParquetFile(path).metadata
    assert md.num_row_groups == 2, "test setup: need two row groups"
    mins, maxs, nulls = _parquet_col_stats(path)
    # b: min/max ABSENT (rg1 doesn't decode) -- a partial {aa..zz} range
    # would wrongly exclude \xff\xfe-range keys; nullCount exact anyway
    assert "b" not in mins and "b" not in maxs
    assert nulls["b"] == 2
    # k: full-file coverage
    assert mins["k"] == 1 and maxs["k"] == 9 and nulls["k"] == 0


def test_vacuum_listing_sweep_reclaims_checkpoint_expired_orphans(
    spark, tmp_path, monkeypatch
):
    """The orphan-leak window (code-review r11): a file is tombstoned,
    no vacuum runs within the retention horizon, a checkpoint drops the
    expired tombstone, pre-checkpoint JSON commits are deleted -- the
    file is now referenced by NOTHING. vacuum_delta's directory-listing
    sweep (real Delta VACUUM's shape) must still reclaim it, without
    touching the active set."""
    from financial_arbitrage_data_pipeline_spark.sources import delta_log as DL

    tdir = str(tmp_path / "t")
    DL.create_delta_table(spark, tdir, spark.createDataFrame([(0,)], "k long"))
    for i in range(1, 4):
        DL.commit_append(spark, tdir, spark.createDataFrame([(i,)], "k long"))
    v = DL.optimize_compact(spark, tdir, target_files=1)  # tombstones the 4
    expect = list(range(4))

    # age every tombstone past the retention horizon, then checkpoint:
    # the checkpoint drops them all (already VACUUM-eligible)
    monkeypatch.setattr(DL, "TOMBSTONE_RETENTION_MS", -1)
    state = DL.replay_state(spark, tdir)
    tombstoned = set(state.tombstones)
    assert tombstoned, "test setup: optimize must have tombstoned files"
    DL._write_checkpoint(spark, tdir, v, state)
    for ver in DL.delta_versions(tdir):
        if ver < v:
            os.remove(os.path.join(tdir, "_delta_log", f"{ver:020d}.json"))
    # drop the remove-carrying JSON too if it's the checkpoint version?
    # no: v's JSON survives; delete it as well to model full cleanup
    os.remove(os.path.join(tdir, "_delta_log", f"{v:020d}.json"))
    assert not DL.replay_state(spark, tdir).tombstones

    # retention below the sweep floor: the listing sweep is skipped
    # (ADVICE r11 item 3) unless explicitly forced
    assert DL.vacuum_delta(spark, tdir, retention_ms=0) == []
    deleted = DL.vacuum_delta(
        spark, tdir, retention_ms=0, force_listing_sweep=True
    )
    assert set(deleted) == tombstoned, "sweep must reclaim exactly the orphans"
    active = set(DL.replay_state(spark, tdir).files)
    for p in active:
        assert os.path.exists(os.path.join(tdir, DL._decode_path(p)))
    got = sorted(r["k"] for r in DL.read_delta_table(spark, tdir).collect())
    assert got == expect


def test_vacuum_listing_sweep_enters_underscore_partition_dirs(spark, tmp_path):
    """Spark's hidden-path rule skips `_`/`.` names only when they are
    not partition directories: an orphan parquet file in `__bucket__=0/`
    (what a merge that crashed before its commit leaves behind), older
    than the retention, is reclaimed by the listing sweep; the log and
    the active files are left alone."""
    tdir = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i % 2) for i in range(10)], "k long, __bucket__ int")
    create_delta_table(spark, tdir, df, partition_by=["__bucket__"])
    orphan = os.path.join(tdir, "__bucket__=0", "part-orphan.snappy.parquet")
    spark.createDataFrame([(99,)], "k long").toPandas().to_parquet(orphan)
    old = os.path.getmtime(orphan) - 7200
    os.utime(orphan, (old, old))

    from financial_arbitrage_data_pipeline_spark.sources.delta_log import vacuum_delta

    deleted = vacuum_delta(spark, tdir, retention_ms=3_600_000, force_listing_sweep=True)
    assert deleted == ["__bucket__%3D0/part-orphan.snappy.parquet"]
    assert not os.path.exists(orphan)
    assert sorted(r["k"] for r in read_delta_table(spark, tdir).collect()) == list(range(10))


def test_partitioned_read_plans_one_scan_without_union(spark, tmp_path):
    """A read of a 16-partition table is ONE file scan (partition values
    parsed from the Hive paths), not a union of per-partition scans."""
    tdir = str(tmp_path / "t")
    df = spark.range(64).selectExpr("id AS k", "CAST(id % 16 AS INT) AS p")
    create_delta_table(spark, tdir, df, partition_by=["p"])
    assert len(replay_state(spark, tdir).files) >= 16
    out = read_delta_table(spark, tdir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert "Union" not in out._jdf.queryExecution().optimizedPlan().toString()
    assert sorted((r["k"], r["p"]) for r in out.collect()) == [
        (i, i % 16) for i in range(64)
    ]


def test_partitioned_read_refuses_path_without_its_partition_segment(spark, tmp_path):
    """The one-scan reader takes partition values from the path, so a
    logged file whose path does not carry its `col=value` segment is
    refused on the driver instead of being read with the wrong value."""
    tdir = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, g string")
    create_delta_table(spark, tdir, df, partition_by=["g"])
    lines = _log_lines(tdir, 0)
    for a in lines:
        if "add" in a:
            a["add"]["partitionValues"] = {"g": "zz"}
    with open(os.path.join(tdir, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in lines) + "\n")
    with pytest.raises(ValueError, match="does not carry"):
        read_delta_table(spark, tdir)


def test_stats_filter_skips_files_and_returns_exact_rows(spark, tmp_path):
    """Data skipping (r11): a key-clustered table read with stats_filter
    must (a) keep only the files whose logged [min,max] intersects the
    bounds, (b) return exactly the rows a plain BETWEEN yields, and
    (c) treat files without a usable stat as must-read."""
    from financial_arbitrage_data_pipeline_spark.sources import delta_log as DL

    tdir = str(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr("id as k", "id * 3 as v")
    DL.create_delta_table(spark, tdir, df.repartitionByRange(10, "k"))

    kept, total = DL.stats_selected_files(spark, tdir, {"k": (250, 449)})
    assert total == 10 and 1 <= kept <= 3, (kept, total)
    got = sorted(
        (r["k"], r["v"])
        for r in DL.read_delta_table(
            spark, tdir, stats_filter={"k": (250, 449)}
        ).collect()
    )
    assert got == [(k, k * 3) for k in range(250, 450)]
    # one-sided bounds
    hi = DL.read_delta_table(spark, tdir, stats_filter={"k": (900, None)})
    assert sorted(r["k"] for r in hi.collect()) == list(range(900, 1000))
    # unknown column refused loudly; unknown STATS kept conservatively
    with pytest.raises(ValueError):
        DL.read_delta_table(spark, tdir, stats_filter={"nope": (1, 2)})
    add_nostats = {"partitionValues": {}}  # no stats key at all
    assert DL.stats_keep_file(add_nostats, {"k": (0, 1)})
    add_incomparable = {"stats": json.dumps(
        {"numRecords": 1, "minValues": {"k": "a"}, "maxValues": {"k": "z"}}
    )}
    assert DL.stats_keep_file(add_incomparable, {"k": (0, 1)})


def test_optimize_zorder_two_dimensional_skipping(spark, tmp_path):
    """OPTIMIZE zorder_by (r11): layout-only (same rows, dataChange
    false), and after the rewrite an aligned box stats_filter on BOTH
    columns skips most files where the unclustered v0 layout skipped
    none."""
    from financial_arbitrage_data_pipeline_spark.sources import delta_log as DL

    tdir = str(tmp_path / "t")
    df = spark.range(0, 20000).selectExpr(
        "cast(id % 256 as long) as x",
        "cast((id * 7919) % 256 as long) as y",
        "id as payload",
    )
    DL.create_delta_table(spark, tdir, df.repartition(8))
    box = {"x": (64, 95), "y": (128, 159)}  # aligned 32x32 cell
    kept0, total0 = DL.stats_selected_files(spark, tdir, box, version=0)
    assert kept0 == total0 == 8  # hash-scrambled: nothing skips

    before = sorted(tuple(r) for r in DL.read_delta_table(spark, tdir).collect())
    v = DL.optimize_compact(spark, tdir, target_files=8, zorder_by=("x", "y"))
    acts = _log_lines(tdir, v)
    assert all(
        a["add"]["dataChange"] is False for a in acts if "add" in a
    ), "zorder OPTIMIZE must stay layout-only"
    after = sorted(tuple(r) for r in DL.read_delta_table(spark, tdir).collect())
    assert after == before, "zorder rewrite changed table content"

    kept, total = DL.stats_selected_files(spark, tdir, box)
    assert kept * 2 <= total, f"box read kept {kept}/{total} after zorder"
    got = sorted(
        tuple(r)
        for r in DL.read_delta_table(spark, tdir, stats_filter=box).collect()
    )
    want = sorted(
        (i % 256, (i * 7919) % 256, i)
        for i in range(20000)
        if 64 <= i % 256 <= 95 and 128 <= (i * 7919) % 256 <= 159
    )
    assert got == want
    # partitioned tables refuse zorder loudly (per-partition bounds unbuilt)
    pdir = str(tmp_path / "p")
    DL.create_delta_table(
        spark, pdir,
        spark.range(20).selectExpr("cast(id % 2 as string) as pc", "id as k"),
        partition_by=["pc"],
    )
    with pytest.raises(NotImplementedError):
        DL.optimize_compact(spark, pdir, zorder_by=("k", "k"))


def test_vacuum_sweep_protects_foreign_literal_eq_paths(spark, tmp_path):
    """ADVICE r11 item 2: a foreign writer logs Hive partition paths
    with a LITERAL '=' (e.g. 'pc=1/part-...parquet') where this engine
    logs '%3D'. The listing sweep's protected set must match whatever
    quoting the log used — pre-fix it re-encoded the filesystem path
    and deleted ACTIVE files of foreign partitioned tables."""
    from financial_arbitrage_data_pipeline_spark.sources import delta_log as DL

    tdir = str(tmp_path / "t")
    DL.create_delta_table(
        spark, tdir,
        spark.range(20).selectExpr("cast(id % 2 as string) as pc", "id as k"),
        partition_by=["pc"],
    )
    # Rewrite the log the way a foreign writer quotes it: literal '='.
    log = os.path.join(tdir, "_delta_log", f"{0:020d}.json")
    with open(log, encoding="utf-8") as fh:
        txt = fh.read()
    assert "%3D" in txt, "engine writer must have percent-encoded '='"
    with open(log, "w", encoding="utf-8") as fh:
        fh.write(txt.replace("%3D", "="))
    before = sorted(r["k"] for r in DL.read_delta_table(spark, tdir).collect())
    assert before == list(range(20))

    # age every data file past any cutoff, then force the sweep
    old = (DL._now_ms() - 10 * DL.MIN_SWEEP_RETENTION_MS) / 1000
    for root, dirs, files in os.walk(tdir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet"):
                os.utime(os.path.join(root, f), (old, old))
    deleted = DL.vacuum_delta(spark, tdir, retention_ms=0, force_listing_sweep=True)
    assert deleted == [], f"sweep deleted ACTIVE foreign-path files: {deleted}"
    after = sorted(r["k"] for r in DL.read_delta_table(spark, tdir).collect())
    assert after == before


def test_publish_df_repairs_torn_final_line(spark, tmp_path):
    """ADVICE r11 item 1: a crash that tears the write inside the LAST
    record leaves a non-newline-terminated tail. _line_count counted it
    as a full line, so a same-publish retry no-op'd and kept the corrupt
    half-record, and the next publish merged two records into one line.
    The journaled append must treat a missing trailing newline as torn."""
    from financial_arbitrage_data_pipeline_spark.sources import kafka_standin as KS

    log_dir = str(tmp_path / "topic")
    os.makedirs(log_dir)
    lines = [json.dumps({"key": "a", "value": f"v{i}", "ts_ms": 0}) + "\n"
             for i in range(3)]
    # attempt 1: crashes mid-final-record (journal written, tail torn)
    KS._journaled_append(log_dir, 0, "pub-1", iter(lines[:2]), 3)
    log_path = os.path.join(log_dir, "p0.jsonl")
    with open(log_path, "ab") as fh:
        fh.write(lines[2][: len(lines[2]) // 2].encode())  # torn tail
    assert KS._line_count(log_path) == 3  # the pre-fix false 'complete'
    # retry with the SAME publish_id must repair and re-append fully
    KS._journaled_append(log_dir, 0, "pub-1", iter(lines), 3)
    with open(log_path, "rb") as fh:
        data = fh.read()
    assert data.endswith(b"\n")
    got = [json.loads(line) for line in data.decode().splitlines()]
    assert [g["value"] for g in got] == ["v0", "v1", "v2"]
    # a LATER publish over a torn abandoned tail must not merge records
    with open(log_path, "ab") as fh:
        fh.write(b'{"key": "a", "va')  # torn, journal says complete
    KS._journaled_append(
        log_dir, 0, "pub-2",
        iter([json.dumps({"key": "b", "value": "w0", "ts_ms": 1}) + "\n"]), 1,
    )
    with open(log_path, "rb") as fh:
        rows = [json.loads(line) for line in fh.read().decode().splitlines()]
    assert [r["value"] for r in rows] == ["v0", "v1", "v2", "w0"]
