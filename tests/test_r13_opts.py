"""Focused regressions for the round-13 optimizations' changed internals.

Each r13 change is result-invariant (oracle-verified in the drive and by
tests/test_oracle_parity.py), so these tests pin the *mechanisms* the
optimizations bought: the prefix-doubling early exit computes the same
ranks as a Python brute force, the bucketed MERGE honors a caller's own
persist, the no-pre-probe empty-seed layout still reads, and the
streaming checkpoint posture is actually installed in the session.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F


def test_suffix_ranks_early_exit_matches_bruteforce(spark):
    """_suffix_ranks now stops at the rank fixpoint instead of always
    running ceil(log2(max_len)) rounds — the ranks must still equal the
    suffix's lexicographic position (1-based dense rank) per document."""
    from financial_arbitrage_data_pipeline_spark.operators.dedup import (
        _suffix_ranks,
    )

    texts = {
        1: "banana",          # classic repeated-substring case
        2: "abcabcabcabcab",  # long repeats -> late convergence
        3: "zyxw",            # all-distinct -> converges in round 1
        4: "aaaaaaaa",        # maximal ties -> needs every round
        5: "mississippi",
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["i"]): r["rank"]
        for r in _suffix_ranks(docs).collect()
    }
    for doc_id, text in texts.items():
        suffixes = sorted(range(len(text)), key=lambda i: text[i:])
        for rank0, i in enumerate(suffixes):
            assert got[(doc_id, i)] == rank0 + 1, (doc_id, i, text)


def test_merge_bucketed_respects_caller_persist(spark, sf_dir):
    """The merge persists the updates plan across its two jobs (bucket
    selection, rewrite) and unpersists it — but a caller's OWN persist
    must survive the merge (ownership contract: we neither re-persist
    nor unpersist theirs)."""
    from financial_arbitrage_data_pipeline_spark.operators.upsert import (
        create_bucketed_table,
        merge_into_parquet,
        read_merge_table,
    )

    root = tempfile.mkdtemp(prefix="sgr13merge_")
    try:
        tdir = os.path.join(root, "t")
        seed = spark.range(100).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
        )
        create_bucketed_table(spark, tdir, seed, key="k")
        updates = (
            spark.range(50)
            .select(F.col("id").alias("k"), F.lit(7).cast("long").alias("v"))
            .persist()
        )
        try:
            merge_into_parquet(
                spark,
                tdir,
                updates,
                key="k",
                set_exprs={"v": F.coalesce(F.col("u.v"), F.col("t.v"))},
            )
            lvl = updates.storageLevel
            assert lvl.useMemory or lvl.useDisk, (
                "merge unpersisted a caller-owned updates cache"
            )
            rows = {r["k"]: r["v"] for r in read_merge_table(spark, tdir).collect()}
            assert rows[0] == 7 and rows[99] == 0 and len(rows) == 100
        finally:
            updates.unpersist()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_create_bucketed_table_empty_seed_still_reads(spark):
    """An empty seed commits the schema and no data files; the table
    reads back empty with the seed's columns."""
    from financial_arbitrage_data_pipeline_spark.operators.upsert import (
        create_bucketed_table,
        read_merge_table,
    )

    root = tempfile.mkdtemp(prefix="sgr13empty_")
    try:
        tdir = os.path.join(root, "t")
        empty = spark.range(0).select(
            F.col("id").alias("k"), F.lit("x").alias("v")
        )
        create_bucketed_table(spark, tdir, empty, key="k")
        out = read_merge_table(spark, tdir)
        assert out.count() == 0
        assert set(out.columns) == {"k", "v"}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_session_streaming_checkpoint_posture(spark):
    """The r13 checkpoint IO posture must actually be installed: the
    FileSystem-based manager (no Hadoop Stat/Shell fork per metadata op)
    and checksum siblings off."""
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass").endswith(
        "FileSystemBasedCheckpointFileManager"
    )
    assert spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false"
