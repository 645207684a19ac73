"""Deletion vectors: bitmap format conformance + merge-on-read reads.

Format targets are the openly published Delta PROTOCOL.md ("Deletion
Vectors") and the RoaringFormatSpec; behavior targets: deleted rows
never resurface (reads, time travel, checkpoints), rewrites refuse, and
unsupported reader features keep failing loudly.
"""

from __future__ import annotations

import json
import os
import random
import struct

import pytest
from pyspark.sql import functions as F

from financial_arbitrage_data_pipeline_spark.sources import deletion_vectors as DV
from financial_arbitrage_data_pipeline_spark.sources import delta_log as DL


def test_roaring_array_roundtrip_all_container_kinds():
    rng = random.Random(17)
    cases = [
        [],
        [0],
        [1, 2, 3],
        list(range(5000)),  # dense -> bitmap container
        [rng.randrange(1 << 20) for _ in range(3000)],
        [(5 << 32) | v for v in range(100)] + [7],  # 64-bit multi-bitmap
        [rng.randrange(1 << 40) for _ in range(2000)],
    ]
    for vals in cases:
        got = DV.roaring_array_deserialize(DV.roaring_array_serialize(vals))
        assert got == sorted(set(vals))


def test_roaring_run_container_read_path():
    """Foreign writers may emit run containers; the reader must parse
    them even though our writer never produces them."""
    n = 1
    cookie = DV._SERIAL_COOKIE_RUN | ((n - 1) << 16)
    buf = struct.pack("<i", cookie) + bytes([0b1]) + struct.pack("<HH", 0, 9)
    buf += struct.pack("<H", 2) + struct.pack("<HHHH", 5, 2, 100, 5)
    vals, pos = DV._deserialize_bitmap32(buf, 0)
    assert vals == [5, 6, 7] + list(range(100, 106))
    assert pos == len(buf)


def test_dv_file_and_inline_descriptors(tmp_path):
    td = str(tmp_path)
    blobs = [
        DV.roaring_array_serialize([1, 3, 5]),
        DV.roaring_array_serialize(list(range(100))),
    ]
    descs = DV.write_dv_file(td, blobs)
    # 'u' storage: z85 uuid resolves to the written file
    for d, expect in zip(descs, ([1, 3, 5], list(range(100)))):
        d = dict(d, cardinality=len(expect))
        assert os.path.exists(DV.dv_absolute_path(td, d))
        assert DV.dv_row_indexes(td, d) == expect
    # inline: z85 of the padded blob
    pad = b"\0" * ((-len(blobs[0])) % 4)
    inline = {
        "storageType": "i",
        "pathOrInlineDv": DV.z85_encode(blobs[0] + pad),
        "sizeInBytes": len(blobs[0]),
        "cardinality": 3,
    }
    assert DV.dv_row_indexes(td, inline) == [1, 3, 5]
    # cardinality mismatch fails loudly
    with pytest.raises(ValueError, match="cardinality"):
        DV.dv_row_indexes(td, dict(descs[0], cardinality=99))
    # corrupted bytes fail the CRC, not return wrong rows
    p = DV.dv_absolute_path(td, descs[0])
    raw = bytearray(open(p, "rb").read())
    raw[10] ^= 0xFF
    open(p, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="checksum|magic|cookie"):
        DV.dv_row_indexes(td, dict(descs[0], cardinality=3))


def test_commit_dv_read_union_and_time_travel(spark, tmp_path):
    td = str(tmp_path / "t")
    df = spark.range(0, 100).selectExpr("id as k", "id*2 as v")
    DL.create_delta_table(spark, td, df.repartitionByRange(4, "k"))
    paths = sorted(DL.replay_state(spark, td).files)
    v1 = DL.commit_deletion_vectors(spark, td, {paths[0]: [0, 1, 2], paths[1]: [5]})
    assert DL.read_delta_table(spark, td).count() == 96
    # union on a second delete against the same file
    DL.commit_deletion_vectors(spark, td, {paths[0]: [2, 3]})
    got = sorted(r["k"] for r in DL.read_delta_table(spark, td).collect())
    assert len(got) == 95
    # time travel: v0 full, v1 intermediate
    assert DL.read_delta_table(spark, td, version=0).count() == 100
    assert DL.read_delta_table(spark, td, version=v1).count() == 96
    # protocol upgraded exactly once, with the DV feature
    st = DL.replay_state(spark, td)
    assert st.protocol["minReaderVersion"] == 3
    assert st.protocol["readerFeatures"] == ["deletionVectors"]
    # out-of-range and inactive-path deletes refuse
    with pytest.raises(ValueError, match="out of range"):
        DL.commit_deletion_vectors(spark, td, {paths[0]: [10**6]})
    with pytest.raises(ValueError, match="not an active file"):
        DL.commit_deletion_vectors(spark, td, {"nope.parquet": [0]})


def test_delete_from_delta_table_predicate_and_partitioned(spark, tmp_path):
    """DELETE WHERE over a PARTITIONED table: bitmaps are packed per
    file on executors; partition columns (absent from the data files)
    still participate in the predicate; already-deleted rows stay
    deleted across stacked deletes."""
    td = str(tmp_path / "p")
    df = spark.range(0, 200).selectExpr(
        "cast(id % 2 as string) as pc", "id as k", "id * 3 as v"
    )
    DL.create_delta_table(spark, td, df, partition_by=["pc"])
    v = DL.delete_from_delta_table(spark, td, "pc = '1' AND k < 100")
    assert v is not None
    got = sorted(r["k"] for r in DL.read_delta_table(spark, td).collect())
    assert got == [k for k in range(200) if not (k % 2 == 1 and k < 100)]
    # stacked delete with a Column predicate; union must hold
    DL.delete_from_delta_table(spark, td, F.col("k") >= 150)
    got2 = sorted(r["k"] for r in DL.read_delta_table(spark, td).collect())
    assert got2 == [
        k for k in range(200) if not (k % 2 == 1 and k < 100) and k < 150
    ]
    # no-match delete is a no-op returning None
    assert DL.delete_from_delta_table(spark, td, "k < 0") is None


def test_dv_survives_checkpoint_and_json_pruning(spark, tmp_path):
    td = str(tmp_path / "t")
    DL.create_delta_table(
        spark, td, spark.range(0, 50).selectExpr("id as k"),
        configuration={"delta.checkpointInterval": "2"},
    )
    DL.delete_from_delta_table(spark, td, "k % 5 = 0")
    v = DL.commit_append(spark, td, spark.range(100, 110).selectExpr("id as k"))
    # v2 crossed the interval -> checkpoint; delete the earlier JSONs
    assert DL._latest_checkpoint_at_or_below(td, v) == v
    for ver in DL.delta_versions(td):
        if ver < v:
            os.remove(os.path.join(td, "_delta_log", f"{ver:020d}.json"))
    got = sorted(r["k"] for r in DL.read_delta_table(spark, td).collect())
    assert got == [k for k in range(50) if k % 5 != 0] + list(range(100, 110))
    st = DL.replay_state(spark, td)
    assert st.protocol["readerFeatures"] == ["deletionVectors"]


def test_optimize_purges_dvs_and_preserves_live_rows(spark, tmp_path):
    """OPTIMIZE on a DV-carrying table is purge-on-rewrite: the scan
    applies the DVs, so the compacted files hold exactly the live rows
    and carry NO deletionVector — deleted rows can never resurrect, and
    the commit stays layout-only (dataChange=false)."""
    td = str(tmp_path / "t")
    DL.create_delta_table(
        spark, td, spark.range(0, 100).selectExpr("id as k").repartition(4)
    )
    DL.delete_from_delta_table(spark, td, "k % 10 = 0")
    live = sorted(r["k"] for r in DL.read_delta_table(spark, td).collect())
    v = DL.optimize_compact(spark, td, target_files=1)
    st = DL.replay_state(spark, td)
    assert not any(a.get("deletionVector") for a in st.files.values())
    assert sorted(r["k"] for r in DL.read_delta_table(spark, td).collect()) == live
    acts = [json.loads(line) for line in open(
        os.path.join(td, "_delta_log", f"{v:020d}.json"))]
    assert all(a["add"]["dataChange"] is False for a in acts if "add" in a)
    # pre-OPTIMIZE version still reads DV-filtered
    assert DL.read_delta_table(spark, td, version=v - 1).count() == len(live)


def test_merge_on_dv_table_no_resurrection(spark, tmp_path):
    """MERGE into a DV-carrying table: the candidate scan applies DVs
    (deleted rows never re-enter the rewrite), rewritten files drop
    their DV, untouched files keep theirs."""
    td = str(tmp_path / "t")
    df = spark.range(0, 400).selectExpr("id as k", "id * 2 as v")
    DL.create_delta_table(spark, td, df.repartitionByRange(8, "k"))
    DL.delete_from_delta_table(spark, td, "k % 10 = 0")  # DVs on all 8 files
    up = spark.range(1, 50).selectExpr("id as k", "id * 1000 as v")
    DL.merge_delta_table(spark, td, up, "k", {"v": F.col("u.v")})
    got = {r["k"]: r["v"] for r in DL.read_delta_table(spark, td).collect()}
    for k in range(400):
        if k % 10 == 0:
            assert k not in got, f"deleted row {k} resurrected by MERGE"
        else:
            assert got[k] == (k * 1000 if 1 <= k < 50 else k * 2)
    st = DL.replay_state(spark, td)
    dv_files = [a for a in st.files.values() if a.get("deletionVector")]
    assert dv_files, "untouched files must keep their DVs"
    assert len(dv_files) < len(st.files), "rewritten files must drop theirs"
    # stacked delete after the merge still works
    DL.delete_from_delta_table(spark, td, "k = 399")
    assert 399 not in {
        r["k"] for r in DL.read_delta_table(spark, td).collect()
    }


def test_vacuum_keeps_dv_files_and_foreign_features_refuse(spark, tmp_path):
    td = str(tmp_path / "t")
    DL.create_delta_table(spark, td, spark.range(0, 20).selectExpr("id as k"))
    DL.delete_from_delta_table(spark, td, "k = 3")
    # vacuum's tombstone path must NOT delete the re-added (DV'd) files
    deleted = DL.vacuum_delta(spark, td, retention_ms=0)
    assert deleted == []
    assert DL.read_delta_table(spark, td).count() == 19

    # writer features beyond deletionVectors keep refusing MERGE loudly
    log0 = os.path.join(td, "_delta_log", f"{1:020d}.json")
    lines = [json.loads(line) for line in open(log0)]
    for a in lines:
        if "protocol" in a:
            a["protocol"]["writerFeatures"] = ["deletionVectors", "rowTracking"]
    with open(log0, "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in lines)
    with pytest.raises(ValueError, match="writer features"):
        DL.merge_delta_table(
            spark, td, spark.range(1).selectExpr("id as k"), "k", {}
        )

    # a foreign table demanding columnMapping still refuses loudly
    td2 = str(tmp_path / "cm")
    DL.create_delta_table(spark, td2, spark.range(5).selectExpr("id as k"))
    log0 = os.path.join(td2, "_delta_log", f"{0:020d}.json")
    lines = [json.loads(line) for line in open(log0)]
    for a in lines:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors", "columnMapping"],
                "writerFeatures": ["columnMapping"],
            }
    with open(log0, "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in lines)
    with pytest.raises(ValueError, match="columnMapping"):
        DL.read_delta_table(spark, td2)
    # plain v2 (legacy columnMapping) also refuses
    for a in lines:
        if "protocol" in a:
            a["protocol"] = {"minReaderVersion": 2, "minWriterVersion": 5}
    with open(log0, "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in lines)
    with pytest.raises(ValueError, match="reader version 2"):
        DL.read_delta_table(spark, td2)


def test_vacuum_reclaims_superseded_dv_files(spark, tmp_path):
    """Removes carry the superseded DV descriptor (protocol shape), so
    VACUUM can reclaim .bin files no active add or unexpired tombstone
    references — stacked deletes supersede bin1 with bin2, the purge
    OPTIMIZE supersedes bin2, and an expired vacuum removes both while
    the table reads exactly."""
    td = str(tmp_path / "t")
    DL.create_delta_table(
        spark, td, spark.range(0, 80).selectExpr("id as k").repartition(4)
    )
    DL.delete_from_delta_table(spark, td, "k % 10 = 0")
    DL.delete_from_delta_table(spark, td, "k % 10 = 1")  # supersedes bin1
    bins = [f for f in os.listdir(td) if f.startswith("deletion_vector_")]
    assert len(bins) == 2
    live = sorted(r["k"] for r in DL.read_delta_table(spark, td).collect())

    # unexpired: nothing reclaimed (bin1's tombstones are fresh)
    assert DL.vacuum_delta(spark, td, retention_ms=3_600_000) == []

    DL.optimize_compact(spark, td, target_files=1)  # purge: supersedes bin2
    deleted = DL.vacuum_delta(spark, td, retention_ms=0)
    remaining = [f for f in os.listdir(td) if f.startswith("deletion_vector_")]
    assert remaining == [], f"superseded DV files not reclaimed: {remaining}"
    assert sum(1 for d in deleted if d.startswith("deletion_vector_")) == 2
    assert sorted(r["k"] for r in DL.read_delta_table(spark, td).collect()) == live


def test_vacuum_reclaims_every_dv_of_a_file_removed_twice(spark, tmp_path):
    """One data file (pinned: a single input partition) takes both stacked
    deletes — its DV1 is swapped for DV2 — and then the purge OPTIMIZE
    removes it again. The log carries two removes for the same path, each
    with a different superseded descriptor; VACUUM must reclaim both .bin
    files, not just the one kept by a path-keyed lookup."""
    td = str(tmp_path / "t")
    DL.create_delta_table(spark, td, spark.range(0, 80, 1, 1).selectExpr("id as k"))
    assert len([f for f in os.listdir(td) if f.endswith(".parquet")]) == 1
    DL.delete_from_delta_table(spark, td, "k % 10 = 0")
    DL.delete_from_delta_table(spark, td, "k % 10 = 1")
    live = sorted(r["k"] for r in DL.read_delta_table(spark, td).collect())
    DL.optimize_compact(spark, td, target_files=1)
    deleted = DL.vacuum_delta(spark, td, retention_ms=0)
    remaining = [f for f in os.listdir(td) if f.startswith("deletion_vector_")]
    assert remaining == [], f"superseded DV files not reclaimed: {remaining}"
    assert sum(1 for d in deleted if d.startswith("deletion_vector_")) == 2
    assert sorted(r["k"] for r in DL.read_delta_table(spark, td).collect()) == live
