"""Upsert / MERGE primitives (K4, J4, A2/A3 — SURVEY §2.1, §2.4).

The reference's relational writer does dynamic `UPDATE ... SET` point
writes (`database/postgres/client.py:409-458`), select-then-insert-or-
update pair writes (`database/postgres/writer.py:351-407`), and the fill
update that recomputes executed quantity / weighted-average fill price /
status per trade (`database/postgres/writer.py:215-294`,
`database/models/postgres.py:184-211`).

Spark-first realization: a merge table is a Delta table
(`sources/delta_log.py`) partitioned by HASH BUCKET —
`__bucket__ = pmod(xxhash64(key), n_buckets)`, with the key and modulus
recorded in the log's metaData.configuration. `merge_into_parquet` is
`MERGE INTO` through the transaction log: it computes the (tiny,
≤ n_buckets) set of buckets its update keys hash into, reads and
rewrites only those buckets' files, and commits remove+add actions in
one put-if-absent log version — untouched buckets are never opened, so
the cost of a MERGE is proportional to touched data, not table size. On
a 100 TB table you would raise n_buckets (`rebucket_merge_table`) so
each bucket is a few GB.

Everything else a relational store gives comes from the log, not from a
side protocol: atomic multi-bucket commits and crash safety (staged
files are invisible until the commit JSON lands), concurrent writers
(the loser of a version race retries on the new head), exactly-once
foreachBatch upserts (the `txn` action), schema widening (a metaData
re-emit), time travel (`VERSION AS OF` by log replay), a change feed
(the buckets named by the add/remove actions between two versions) and
retention (`vacuum_merge_history`). Replaced files stay on disk until
that vacuum, which is what keeps every retained version readable.

Exactness divergence (deliberate, SURVEY risk-note style): the reference
stores the running `average_fill_price` and updates it incrementally with
float math (`postgres.py:193-197`); we store the running integer sums
(`executed_quantity`, `executed_cost_cents`) and derive the average at
read time — the same information, but associative and therefore exact
under any batch split or partial-aggregation order.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.delta_log import (
    BUCKET_COL,
    BUCKET_COUNT_CONF,
    BUCKET_KEY_CONF,
    _commit,
    _read_commit_actions,
    _rewrite_build,
    _snapshot_df,
    bucket_of,
    bucket_spec,
    create_delta_table,
    merge_delta_table,
    read_delta_table,
)
# A merge table's history is its Delta log's: the readable versions and
# version-based retention are the log's own functions under these names.
from ..sources.delta_log import readable_versions as history_versions  # noqa: F401
from ..sources.delta_log import vacuum_history as vacuum_merge_history  # noqa: F401
from ..sources.tables import load_table

_DEFAULT_BUCKETS = 16
# txn appId under which merge_into_parquet records applied_batch_id
_APPLIED_BATCH_APP = "spark-graft-applied-batch"


def create_bucketed_table(
    spark: SparkSession,
    target_dir: str,
    df: DataFrame,
    key: str,
    n_buckets: int = _DEFAULT_BUCKETS,
) -> None:
    """Materialize `df` as a hash-bucketed merge target: version 0 of a
    Delta table partitioned by `__bucket__` (one file per bucket), with
    the bucket key and modulus in metaData.configuration so every later
    merge reproduces them. An empty seed commits the schema and no
    files, and reads back empty."""
    create_delta_table(
        spark,
        target_dir,
        df.withColumn(BUCKET_COL, bucket_of(F.col(key), n_buckets)).repartition(BUCKET_COL),
        partition_by=[BUCKET_COL],
        configuration={BUCKET_KEY_CONF: key, BUCKET_COUNT_CONF: str(n_buckets)},
    )


def _user_cols(df: DataFrame) -> DataFrame:
    return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df


def read_merge_table(spark: SparkSession, target_dir: str) -> DataFrame:
    """The merge table's latest committed version, bucket column dropped."""
    return _user_cols(read_delta_table(spark, target_dir))


def _check_readable(target_dir: str, *wanted: int) -> None:
    versions = history_versions(target_dir)
    for v in wanted:
        if v not in versions:
            raise ValueError(
                f"version {v} not readable; available: "
                + (f"{versions[0]}..{versions[-1]}" if versions else "none")
            )


def read_merge_table_asof(
    spark: SparkSession, target_dir: str, version: int
) -> DataFrame:
    """TIME-TRAVEL read: the table exactly as of committed version
    `version` (0 = as created, N = after the N-th commit), by log
    replay — each version reads with its own schema. The plan pins that
    version's files: a later merge never alters them, and a vacuum that
    deletes them makes the read fail loudly at action time instead of
    mixing versions."""
    _check_readable(target_dir, version)
    return _user_cols(read_delta_table(spark, target_dir, version=version))


def merge_table_changes(
    spark: SparkSession,
    target_dir: str,
    from_version: int,
    to_version: int,
    key: str,
) -> DataFrame:
    """CHANGE DATA FEED between two committed versions (Delta CDF's
    role): every key whose row differs between `from_version` and
    `to_version`, tagged 'insert' / 'update' / 'delete', with the full
    pre- and post-image structs. Reads ONLY the buckets named by the
    add/remove actions of the commits in (from, to], through the
    reader's partition filter, so feed cost is delta-sized. Row
    equality compares every data column (null-safe), so a no-op rewrite
    emits nothing; across a schema widening the older side is conformed
    with typed nulls, so a null -> value transition reads as an
    'update'."""
    if from_version >= to_version:
        raise ValueError("need readable from_version < to_version")
    _check_readable(target_dir, from_version, to_version)
    touched: set[str] = set()
    for v in range(from_version + 1, to_version + 1):
        for action in _read_commit_actions(target_dir, v):
            body = action.get("add") or action.get("remove")
            if body is not None:
                touched.add((body.get("partitionValues") or {}).get(BUCKET_COL))

    def read_side(version: int) -> DataFrame:
        df = read_delta_table(
            spark,
            target_dir,
            version=version,
            partition_filter={BUCKET_COL: sorted(touched)},
        )
        return _user_cols(df)

    if not touched:
        empty = read_merge_table(spark, target_dir).limit(0)
        return empty.select(
            F.col(key),
            F.lit("").alias("change_type"),
            F.struct(*empty.columns).alias("old"),
            F.struct(*empty.columns).alias("new"),
        )
    old_df = read_side(from_version)
    new_df = read_side(to_version)
    for c in new_df.columns:
        if c not in old_df.columns:
            old_df = old_df.withColumn(c, F.lit(None).cast(new_df.schema[c].dataType))
    cols = new_df.columns
    o = old_df.select(F.col(key).alias("__k"), F.struct(*cols).alias("old"))
    n = new_df.select(F.col(key).alias("__k"), F.struct(*cols).alias("new"))
    change = (
        F.when(F.col("old").isNull(), F.lit("insert"))
        .when(F.col("new").isNull(), F.lit("delete"))
        .when(~F.col("old").eqNullSafe(F.col("new")), F.lit("update"))
    )
    return (
        o.join(n, "__k", "full_outer")
        .withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(F.col("__k").alias(key), "change_type", "old", "new")
    )


def merge_into_parquet(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key: str,
    set_exprs: dict[str, Column],
    insert_missing: bool = False,
    applied_batch_id: int | None = None,
    evolve_schema: bool = False,
    evolve_cols: list[str] | None = None,
) -> None:
    """K4: MERGE INTO target USING updates ON target.key = updates.key
    WHEN MATCHED THEN UPDATE SET <set_exprs> [WHEN NOT MATCHED INSERT],
    through the merge table's transaction log (`merge_delta_table`:
    bucket-pruned copy-on-write, one atomic commit, optimistic
    concurrency).

    `set_exprs` sees the joined row with target columns as `t.<c>` and
    update columns as `u.<c>`. Unmatched target rows pass through; with
    `insert_missing`, unmatched update rows are inserted (columns not
    covered by set_exprs default to null).

    `applied_batch_id` makes an additive foreachBatch upsert exactly-once
    under redelivery: it is recorded as the commit's `txn` action, and a
    batch id at or below the recorded one is a no-op — checked against
    the snapshot the commit lands on, so a zombie driver cannot
    double-apply a batch a failover driver already merged.

    `evolve_schema=True` WIDENS the table: every updates column absent
    from the target becomes a new table column (matched/inserted rows
    take the update's value — or the set_exprs entry — and pre-existing
    unmatched rows read null). `evolve_cols` restricts the widening to
    an explicit allowlist, so updates columns that are only join-side
    helpers for set_exprs are NOT persisted into the table schema."""
    merge_delta_table(
        spark,
        target_dir,
        updates,
        key,
        set_exprs,
        insert_missing=insert_missing,
        txn_app_id=None if applied_batch_id is None else _APPLIED_BATCH_APP,
        txn_version=applied_batch_id,
        evolve_schema=evolve_schema,
        evolve_cols=evolve_cols,
    )


def rebucket_merge_table(
    spark: SparkSession, target_dir: str, key: str, n_buckets: int
) -> None:
    """Maintenance op for table GROWTH: rewrite the table under a new
    bucket modulus in ONE commit — remove every active file, add the
    re-bucketed ones (dataChange=false: same rows, new layout) and
    re-emit metaData with the new key and modulus. Every earlier
    version stays readable from the log, so time travel and the change
    feed span the rebucket. A writer that commits first makes the
    rewrite rebuild on the new head, so its update is kept. Cost is one
    full-table read+write — the same as Delta/Iceberg OPTIMIZE-style
    rewrites — after which every MERGE is again proportional to touched
    buckets at the new granularity."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")

    def build(state, version, token):
        if bucket_spec(state.metadata) is None:
            raise ValueError(
                f"{target_dir} is not a bucketed merge table; use create_bucketed_table"
            )
        md = dict(state.metadata)
        md["configuration"] = dict(
            md.get("configuration") or {},
            **{BUCKET_KEY_CONF: key, BUCKET_COUNT_CONF: str(n_buckets)},
        )
        data = _snapshot_df(spark, target_dir, state).drop(BUCKET_COL)
        rebucketed = data.withColumn(
            BUCKET_COL, bucket_of(F.col(key), n_buckets)
        ).repartition(BUCKET_COL)
        return _rewrite_build(target_dir, state, rebucketed, version, token, md)

    _commit(spark, target_dir, "REBUCKET", build)


def apply_fills(
    spark: SparkSession, tickets_dir: str, fills: DataFrame
) -> None:
    """J4: the fill update — aggregate the batch's fills per ticket
    (map-side partial sums), then merge: executed_quantity and
    executed_cost_cents accumulate; status derives from quantity ordered
    (`database/postgres/writer.py:260-266`)."""
    batch = fills.groupBy("ticket_id").agg(
        F.sum("fill_qty").alias("batch_qty"),
        F.sum(F.col("fill_qty") * F.col("fill_price_cents")).alias("batch_cost"),
    )
    new_exec = F.col("t.executed_quantity") + F.col("u.batch_qty")
    new_cost = F.col("t.executed_cost_cents") + F.col("u.batch_cost")
    merge_into_parquet(
        spark,
        tickets_dir,
        batch,
        key="ticket_id",
        set_exprs={
            "executed_quantity": new_exec,
            "executed_cost_cents": new_cost,
            "status": F.when(new_exec >= F.col("t.quantity"), F.lit("filled"))
            .when(new_exec > 0, F.lit("partially_filled"))
            .otherwise(F.lit("pending")),
        },
    )


@query(
    "ticket_fill_merge",
    oracle="""
WITH tickets AS (
  SELECT o_orderkey AS ticket_id, o_orderkey % 50 + 1 AS quantity FROM orders
),
fills AS (
  SELECT l_orderkey AS ticket_id,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(l_partkey % 97 + 1 AS BIGINT) AS p
  FROM lineitem
),
agg AS (
  SELECT ticket_id,
         CAST(SUM(q) AS BIGINT) AS fq,
         CAST(SUM(q * p) AS BIGINT) AS cost
  FROM fills GROUP BY ticket_id
)
SELECT t.ticket_id,
       t.quantity,
       COALESCE(a.fq, 0) AS executed_quantity,
       COALESCE(a.cost, 0) AS executed_cost_cents,
       CASE WHEN COALESCE(a.fq, 0) >= t.quantity THEN 'filled'
            WHEN COALESCE(a.fq, 0) > 0 THEN 'partially_filled'
            ELSE 'pending' END AS status,
       CASE WHEN COALESCE(a.fq, 0) > 0
            THEN CAST(a.cost AS DOUBLE) / CAST(a.fq AS DOUBLE) / 100.0
            ELSE 0.0 END AS avg_fill_price
FROM tickets t LEFT JOIN agg a ON a.ticket_id = t.ticket_id
""",
    tags=("K4", "J4", "A3", "K2", "K3"),
)
def ticket_fill_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full trade-ticket lifecycle through the merge primitive: seed
    pending tickets from orders (K2/K3 insert), apply fills derived from
    lineitem in TWO sequential merge batches (J4 point updates — the
    split proves the running-sum update is batch-invariant), read back
    final state with the derived weighted-average fill price (A3). The
    oracle computes the same end state in one shot — equality shows the
    incremental path converges to the set-based truth."""
    import tempfile

    root = tempfile.mkdtemp(prefix="sgmerge_")
    tickets_dir = os.path.join(root, "trade_tickets")
    try:
        create_bucketed_table(
            spark,
            tickets_dir,
            load_table(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("ticket_id"),
                (F.col("o_orderkey") % 50 + 1).alias("quantity"),
                F.lit(0).cast("long").alias("executed_quantity"),
                F.lit(0).cast("long").alias("executed_cost_cents"),
                F.lit("pending").alias("status"),
            ),
            key="ticket_id",
        )

        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("ticket_id"),
            F.col("l_quantity").cast("long").alias("fill_qty"),
            (F.col("l_partkey") % 97 + 1).cast("long").alias("fill_price_cents"),
            "l_linenumber",
        )
        apply_fills(spark, tickets_dir, li.filter(F.col("l_linenumber") <= 3))
        apply_fills(spark, tickets_dir, li.filter(F.col("l_linenumber") > 3))

        final = read_merge_table(spark, tickets_dir).select(
            "ticket_id",
            "quantity",
            "executed_quantity",
            "executed_cost_cents",
            "status",
            F.when(
                F.col("executed_quantity") > 0,
                F.col("executed_cost_cents").cast("double")
                / F.col("executed_quantity").cast("double")
                / F.lit(100.0),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_fill_price"),
        )
        return final.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "ticket_fill_history_asof",
    oracle="""
WITH tickets AS (
  SELECT o_orderkey AS ticket_id, o_orderkey % 50 + 1 AS quantity FROM orders
),
fills AS (
  SELECT l_orderkey AS ticket_id, l_linenumber,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(l_partkey % 97 + 1 AS BIGINT) AS p
  FROM lineitem
),
state AS (
  SELECT v.version, t.ticket_id, t.quantity,
         COALESCE(a.fq, 0) AS eq, COALESCE(a.cost, 0) AS cost
  FROM (VALUES (1), (2)) v(version)
  CROSS JOIN tickets t
  LEFT JOIN (
    SELECT 1 AS version, ticket_id,
           CAST(SUM(q) AS BIGINT) AS fq, CAST(SUM(q * p) AS BIGINT) AS cost
    FROM fills WHERE l_linenumber <= 3 GROUP BY ticket_id
    UNION ALL
    SELECT 2, ticket_id, CAST(SUM(q) AS BIGINT), CAST(SUM(q * p) AS BIGINT)
    FROM fills GROUP BY ticket_id
  ) a ON a.ticket_id = t.ticket_id AND a.version = v.version
)
SELECT version,
       CASE WHEN eq >= quantity THEN 'filled'
            WHEN eq > 0 THEN 'partially_filled'
            ELSE 'pending' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n_tickets,
       CAST(SUM(eq) AS BIGINT) AS total_executed_qty,
       CAST(SUM(cost) AS BIGINT) AS total_cost_cents
FROM state
GROUP BY 1, 2
""",
    tags=("K4", "time-travel", "lakehouse"),
)
def ticket_fill_history_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the merge table (the Delta/Iceberg snapshot-read
    feature): seed tickets, apply the SAME two fill batches as
    `ticket_fill_merge`, then read BOTH committed versions back via
    `read_merge_table_asof` — version 1 must show exactly the state
    after the first batch even though a second merge has since
    rewritten those buckets. A merge only adds the touched buckets'
    new files and tombstones the old ones, so history on a 100 TB
    target costs delta-bytes per commit. The oracle recomputes both
    version states declaratively from the raw tables; matching BOTH
    rowsets proves log replay picks exactly the right file set."""
    import tempfile

    root = tempfile.mkdtemp(prefix="sgasof_")
    tickets_dir = os.path.join(root, "trade_tickets")
    try:
        create_bucketed_table(
            spark,
            tickets_dir,
            load_table(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("ticket_id"),
                (F.col("o_orderkey") % 50 + 1).alias("quantity"),
                F.lit(0).cast("long").alias("executed_quantity"),
                F.lit(0).cast("long").alias("executed_cost_cents"),
                F.lit("pending").alias("status"),
            ),
            key="ticket_id",
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("ticket_id"),
            F.col("l_quantity").cast("long").alias("fill_qty"),
            (F.col("l_partkey") % 97 + 1).cast("long").alias("fill_price_cents"),
            "l_linenumber",
        )
        apply_fills(spark, tickets_dir, li.filter(F.col("l_linenumber") <= 3))
        apply_fills(spark, tickets_dir, li.filter(F.col("l_linenumber") > 3))

        def rollup(df: DataFrame, version: int) -> DataFrame:
            return df.groupBy("status").agg(
                F.count(F.lit(1)).cast("long").alias("n_tickets"),
                F.sum("executed_quantity").cast("long").alias(
                    "total_executed_qty"
                ),
                F.sum("executed_cost_cents").cast("long").alias(
                    "total_cost_cents"
                ),
            ).select(F.lit(version).cast("int").alias("version"), "*")

        v1 = rollup(read_merge_table_asof(spark, tickets_dir, 1), 1)
        v2 = rollup(read_merge_table_asof(spark, tickets_dir, 2), 2)
        return v1.unionByName(v2).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "ticket_fill_changes_feed",
    oracle="""
WITH tickets AS (
  SELECT o_orderkey AS ticket_id, o_orderkey % 50 + 1 AS quantity FROM orders
),
fills AS (
  SELECT l_orderkey AS ticket_id, l_linenumber,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(l_partkey % 97 + 1 AS BIGINT) AS p
  FROM lineitem
),
b1 AS (
  SELECT ticket_id, CAST(SUM(q) AS BIGINT) AS fq,
         CAST(SUM(q * p) AS BIGINT) AS cost
  FROM fills WHERE l_linenumber <= 3 GROUP BY ticket_id
),
ball AS (
  SELECT ticket_id, CAST(SUM(q) AS BIGINT) AS fq,
         CAST(SUM(q * p) AS BIGINT) AS cost
  FROM fills GROUP BY ticket_id
),
changed AS (SELECT DISTINCT ticket_id FROM fills WHERE l_linenumber > 3)
SELECT t.ticket_id,
       'update' AS change_type,
       COALESCE(b1.fq, 0) AS old_executed_qty,
       ball.fq AS new_executed_qty,
       CASE WHEN COALESCE(b1.fq, 0) >= t.quantity THEN 'filled'
            WHEN COALESCE(b1.fq, 0) > 0 THEN 'partially_filled'
            ELSE 'pending' END AS old_status,
       CASE WHEN ball.fq >= t.quantity THEN 'filled'
            WHEN ball.fq > 0 THEN 'partially_filled'
            ELSE 'pending' END AS new_status,
       COALESCE(b1.cost, 0) AS old_cost_cents,
       ball.cost AS new_cost_cents
FROM changed c
JOIN tickets t ON t.ticket_id = c.ticket_id
LEFT JOIN b1 ON b1.ticket_id = c.ticket_id
JOIN ball ON ball.ticket_id = c.ticket_id
""",
    tags=("K4", "time-travel", "cdc", "lakehouse"),
)
def ticket_fill_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED off the merge table's log (Delta CDF's role): the exact per-key deltas between committed versions 1 and 2
    of the ticket lifecycle — pre- and post-image columns tagged with
    the change type, computed by reading ONLY the buckets the second
    merge touched. This is what a downstream incremental consumer
    (`incremental_lang_stats`-style view maintenance, a replication
    feed, an audit trail) subscribes to instead of diffing table
    snapshots. The oracle derives the same feed declaratively: exactly
    the tickets with second-batch fills, with both images recomputed
    from the raw tables — matching rowsets prove the feed emits every
    changed key, no unchanged key, and the right images."""
    import tempfile

    root = tempfile.mkdtemp(prefix="sgcdf_")
    tickets_dir = os.path.join(root, "trade_tickets")
    try:
        create_bucketed_table(
            spark,
            tickets_dir,
            load_table(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("ticket_id"),
                (F.col("o_orderkey") % 50 + 1).alias("quantity"),
                F.lit(0).cast("long").alias("executed_quantity"),
                F.lit(0).cast("long").alias("executed_cost_cents"),
                F.lit("pending").alias("status"),
            ),
            key="ticket_id",
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("ticket_id"),
            F.col("l_quantity").cast("long").alias("fill_qty"),
            (F.col("l_partkey") % 97 + 1).cast("long").alias("fill_price_cents"),
            "l_linenumber",
        )
        apply_fills(spark, tickets_dir, li.filter(F.col("l_linenumber") <= 3))
        apply_fills(spark, tickets_dir, li.filter(F.col("l_linenumber") > 3))
        feed = merge_table_changes(spark, tickets_dir, 1, 2, "ticket_id")
        return feed.select(
            "ticket_id",
            "change_type",
            F.col("old.executed_quantity").alias("old_executed_qty"),
            F.col("new.executed_quantity").alias("new_executed_qty"),
            F.col("old.status").alias("old_status"),
            F.col("new.status").alias("new_status"),
            F.col("old.executed_cost_cents").alias("old_cost_cents"),
            F.col("new.executed_cost_cents").alias("new_cost_cents"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


_BT_CLOSE_DAY = 10  # valid-time day the batch-1 transition takes effect
_BT_OPEN_END = 99  # open-ended validity sentinel
_BT_PROBE_DAYS = (5, 15)  # valid-time probes: before and after the transition


@query(
    "bitemporal_ticket_state",
    oracle=f"""
WITH t AS (
  SELECT o_orderkey AS tid,
         CAST(o_orderkey % 50 + 1 AS BIGINT) AS qty
  FROM orders
),
b1 AS (
  SELECT l_orderkey AS tid, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS fq
  FROM lineitem WHERE l_linenumber <= 3 GROUP BY l_orderkey
),
ball AS (
  SELECT l_orderkey AS tid, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS fq
  FROM lineitem GROUP BY l_orderkey
),
b2t AS (SELECT DISTINCT l_orderkey AS tid FROM lineitem WHERE l_linenumber > 3),
state AS (
  SELECT t.tid, t.qty, tx.v AS tx_version, d.day AS valid_day,
         CASE
           WHEN d.day < {_BT_CLOSE_DAY} THEN 'pending'
           WHEN tx.v = 1 AND b1.tid IS NOT NULL THEN
             CASE WHEN b1.fq >= t.qty THEN 'filled' ELSE 'partially_filled' END
           WHEN tx.v = 2 AND b1.tid IS NOT NULL AND b2t.tid IS NOT NULL THEN
             CASE WHEN ball.fq >= t.qty THEN 'filled' ELSE 'partially_filled' END
           WHEN tx.v = 2 AND b1.tid IS NOT NULL THEN
             CASE WHEN b1.fq >= t.qty THEN 'filled' ELSE 'partially_filled' END
           ELSE 'pending'
         END AS status
  FROM t
  CROSS JOIN (SELECT unnest([1, 2]) AS v) tx
  CROSS JOIN (SELECT unnest([{", ".join(map(str, _BT_PROBE_DAYS))}]) AS day) d
  LEFT JOIN b1 ON b1.tid = t.tid
  LEFT JOIN ball ON ball.tid = t.tid
  LEFT JOIN b2t ON b2t.tid = t.tid
)
SELECT CAST(tx_version AS INT) AS tx_version,
       CAST(valid_day AS BIGINT) AS valid_day, status,
       CAST(COUNT(*) AS BIGINT) AS n_tickets,
       CAST(SUM(qty) AS BIGINT) AS total_qty
FROM state GROUP BY 1, 2, 3
""",
    tags=("K4", "time-travel", "bitemporal", "lakehouse"),
)
def bitemporal_ticket_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL as-of on the merge table: VALID TIME (when a ticket
    status was true in the world — SCD2 rows with [valid_from,
    valid_to) intervals) crossed with TRANSACTION TIME (when the system
    recorded it — the merge table's log versions). Merge 1 runs the batch-1 SCD2 transition (close the
    pending row at day 10, insert the open successor) — transaction
    version 1. Merge 2 is a RETROACTIVE CORRECTION: for tickets whose
    later fills complete the order, the OPEN row's status is revised in
    place — same valid interval, new transaction version. Reading the
    four (tx_version, valid_day) probes shows exactly the bitemporal
    contract: the past (day 5) is identical under both versions
    (corrections never leak backward in valid time), while day 15
    differs between tx 1 and tx 2 — 'as recorded then' vs 'as corrected
    now'. SQL:2011 temporal tables / Delta time travel only give one
    axis each; this is both, from the same log, priced by
    touched-buckets (the time-travel cost argument of
    ticket_fill_history_asof). All three SCD2 verbs (close, insert,
    revise) ride ONE merge primitive via coalesce(u.c, t.c) set-exprs —
    NULL update columns mean 'keep', so the close row and the insert
    row travel in the same batch.

    Exactness: statuses are integer-rule CASE expressions; rollups are
    int64 counts and quantity sums. The oracle recomputes every
    (tx, valid_day) state declaratively from orders/lineitem."""
    import tempfile

    root = tempfile.mkdtemp(prefix="sgbitemp_")
    tickets_dir = os.path.join(root, "trade_tickets")
    try:
        orders = load_table(spark, sf_dir, "orders")
        create_bucketed_table(
            spark,
            tickets_dir,
            orders.select(
                (F.col("o_orderkey") * 4).alias("skey"),
                F.col("o_orderkey").alias("ticket_id"),
                (F.col("o_orderkey") % 50 + 1).cast("long").alias("qty"),
                F.lit("pending").alias("status"),
                F.lit(0).cast("long").alias("valid_from"),
                F.lit(_BT_OPEN_END).cast("long").alias("valid_to"),
            ),
            key="skey",
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("ticket_id"),
            F.col("l_quantity").cast("long").alias("fill_qty"),
            "l_linenumber",
        )
        tickets = orders.select(
            F.col("o_orderkey").alias("ticket_id"),
            (F.col("o_orderkey") % 50 + 1).cast("long").alias("qty"),
        )
        b1 = (
            li.filter(F.col("l_linenumber") <= 3)
            .groupBy("ticket_id")
            .agg(F.sum("fill_qty").alias("fq"))
            .join(tickets, "ticket_id")
        )
        status1 = F.when(F.col("fq") >= F.col("qty"), "filled").otherwise(
            "partially_filled"
        )
        # closes ∪ inserts as ONE pass over b1 (r13, guide §2.4): the
        # two-branch union re-ran the lineitem aggregation + ticket join
        # once per branch (no exchange reuse across union arms); emitting
        # both SCD2 rows per b1 row through a 2-element explode computes
        # b1 exactly once. Same row multiset as the old
        # closes.unionByName(inserts).
        updates1 = b1.select(
            F.explode(
                F.array(
                    F.struct(
                        (F.col("ticket_id") * 4).alias("skey"),
                        F.lit(None).cast("long").alias("ticket_id"),
                        F.lit(None).cast("long").alias("qty"),
                        F.lit(None).cast("string").alias("status"),
                        F.lit(None).cast("long").alias("valid_from"),
                        F.lit(_BT_CLOSE_DAY).cast("long").alias("valid_to"),
                    ),
                    F.struct(
                        (F.col("ticket_id") * 4 + 1).alias("skey"),
                        F.col("ticket_id").alias("ticket_id"),
                        F.col("qty").alias("qty"),
                        status1.alias("status"),
                        F.lit(_BT_CLOSE_DAY).cast("long").alias("valid_from"),
                        F.lit(_BT_OPEN_END).cast("long").alias("valid_to"),
                    ),
                )
            ).alias("r")
        ).select("r.*")
        keep_or_set = {
            c: F.coalesce(F.col(f"u.{c}"), F.col(f"t.{c}"))
            for c in ("ticket_id", "qty", "status", "valid_from", "valid_to")
        }
        merge_into_parquet(  # tx version 1: the SCD2 transition
            spark,
            tickets_dir,
            updates1,
            key="skey",
            set_exprs=keep_or_set,
            insert_missing=True,
        )
        ball = (
            li.groupBy("ticket_id")
            .agg(F.sum("fill_qty").alias("fq"))
            .join(tickets, "ticket_id")
        )
        b2_tickets = li.filter(F.col("l_linenumber") > 3).select("ticket_id").distinct()
        corrections = (
            ball.join(b2_tickets, "ticket_id")
            .select(
                (F.col("ticket_id") * 4 + 1).alias("skey"),
                F.lit(None).cast("long").alias("ticket_id"),
                F.lit(None).cast("long").alias("qty"),
                F.when(F.col("fq") >= F.col("qty"), "filled")
                .otherwise("partially_filled")
                .alias("status"),
                F.lit(None).cast("long").alias("valid_from"),
                F.lit(None).cast("long").alias("valid_to"),
            )
        )
        merge_into_parquet(  # tx version 2: the retroactive correction
            spark,
            tickets_dir,
            corrections,
            key="skey",
            set_exprs=keep_or_set,
            insert_missing=False,
        )

        # One scan + one aggregation per TX VERSION instead of one per
        # (version, day) probe (r13, guide §2.4: two aggregations keyed
        # the same way share one pass): explode the probe days over each
        # as-of read and group by (day, status). Identical row multiset
        # to the old per-probe union — each row lands in exactly the
        # (day, status) groups whose validity filter it passed. The
        # scan-level filter below is the pushable superset of the per-day
        # predicates (any row surviving some day's filter satisfies it),
        # keeping parquet pushdown that the exploded column would defeat.
        lo, hi = min(_BT_PROBE_DAYS), max(_BT_PROBE_DAYS)

        def probe_version(version: int) -> DataFrame:
            state = read_merge_table_asof(spark, tickets_dir, version)
            return (
                state.filter(
                    (F.col("valid_from") <= hi) & (F.col("valid_to") > lo)
                )
                .select(
                    F.explode(
                        F.array(
                            *[F.lit(d).cast("long") for d in _BT_PROBE_DAYS]
                        )
                    ).alias("valid_day"),
                    "status",
                    "qty",
                    "valid_from",
                    "valid_to",
                )
                .filter(
                    (F.col("valid_from") <= F.col("valid_day"))
                    & (F.col("valid_day") < F.col("valid_to"))
                )
                .groupBy("valid_day", "status")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_tickets"),
                    F.sum("qty").cast("long").alias("total_qty"),
                )
                .select(
                    F.lit(version).cast("int").alias("tx_version"),
                    "valid_day",
                    "status",
                    "n_tickets",
                    "total_qty",
                )
            )

        return probe_version(1).unionByName(probe_version(2)).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "ticket_fill_schema_evolution",
    oracle="""
WITH tickets AS (
  SELECT o_orderkey AS ticket_id, o_orderkey % 50 + 1 AS quantity FROM orders
),
fills AS (
  SELECT l_orderkey AS ticket_id, l_linenumber,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem
),
b1 AS (
  SELECT ticket_id, CAST(SUM(q) AS BIGINT) AS fq
  FROM fills WHERE l_linenumber <= 3 GROUP BY 1
),
ball AS (SELECT ticket_id, CAST(SUM(q) AS BIGINT) AS fq FROM fills GROUP BY 1),
b2set AS (SELECT DISTINCT ticket_id FROM fills WHERE l_linenumber > 3),
v1 AS (
  SELECT 1 AS version, FALSE AS venue_col_present,
         t.quantity, COALESCE(b1.fq, 0) AS eq,
         CAST(NULL AS VARCHAR) AS venue
  FROM tickets t LEFT JOIN b1 ON b1.ticket_id = t.ticket_id
),
v2 AS (
  SELECT 2 AS version, TRUE AS venue_col_present,
         t.quantity, COALESCE(ball.fq, 0) AS eq,
         CASE WHEN b2.ticket_id IS NULL THEN NULL
              WHEN t.ticket_id % 3 = 0 THEN 'kalshi'
              WHEN t.ticket_id % 3 = 1 THEN 'poly'
              ELSE 'iex' END AS venue
  FROM tickets t
  LEFT JOIN ball ON ball.ticket_id = t.ticket_id
  LEFT JOIN b2set b2 ON b2.ticket_id = t.ticket_id
),
u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT version, venue_col_present,
       CASE WHEN eq >= quantity THEN 'filled'
            WHEN eq > 0 THEN 'partially_filled'
            ELSE 'pending' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n_tickets,
       CAST(SUM(eq) AS BIGINT) AS total_executed_qty,
       CAST(COUNT(venue) AS BIGINT) AS n_with_venue,
       CAST(COUNT(DISTINCT venue) AS BIGINT) AS n_venues
FROM u GROUP BY 1, 2, 3
""",
    tags=("K4", "schema-evolution", "time-travel", "lakehouse"),
)
def ticket_fill_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION on the merge table (VERDICT r9 task 6): seed
    tickets, apply a plain fill batch (version 1, old schema), then an
    EVOLVING merge whose source carries a brand-new `venue` column
    (version 2) with `evolve_schema=True` — the table widens, touched
    rows take the venue, pre-existing untouched rows read venue as null,
    and only touched buckets were rewritten (untouched buckets keep
    their pre-evolution files; the commit re-emits metaData with the
    widened schema, which the reader imposes on every file).

    The query reads ACROSS the evolution boundary: version 1 via time
    travel (whose metaData still holds the OLD schema —
    `venue_col_present` false is computed from the actual DataFrame
    columns, not assumed) and the live table (new schema, venue nulls
    for never-touched tickets). The oracle
    restates both versions declaratively; matching both rowsets proves
    the widened reads, the null backfill, and the time-travel schema
    isolation simultaneously. Reference anchor: the reference's fixed
    DDL (`database/models/postgres.py:377-544`) is ALTER-free — exactly
    what a long-lived pipeline outgrows."""
    import tempfile

    root = tempfile.mkdtemp(prefix="sgevo_")
    tickets_dir = os.path.join(root, "trade_tickets")
    try:
        create_bucketed_table(
            spark,
            tickets_dir,
            load_table(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("ticket_id"),
                (F.col("o_orderkey") % 50 + 1).alias("quantity"),
                F.lit(0).cast("long").alias("executed_quantity"),
                F.lit(0).cast("long").alias("executed_cost_cents"),
                F.lit("pending").alias("status"),
            ),
            key="ticket_id",
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("ticket_id"),
            F.col("l_quantity").cast("long").alias("fill_qty"),
            (F.col("l_partkey") % 97 + 1).cast("long").alias("fill_price_cents"),
            "l_linenumber",
        )
        apply_fills(spark, tickets_dir, li.filter(F.col("l_linenumber") <= 3))

        b2 = (
            li.filter(F.col("l_linenumber") > 3)
            .groupBy("ticket_id")
            .agg(F.sum("fill_qty").alias("fq"))
            .withColumn(
                "venue",
                F.element_at(
                    F.array(F.lit("kalshi"), F.lit("poly"), F.lit("iex")),
                    (F.col("ticket_id") % 3 + 1).cast("int"),
                ),
            )
        )
        new_exec = F.col("t.executed_quantity") + F.col("u.fq")
        merge_into_parquet(
            spark,
            tickets_dir,
            b2,
            key="ticket_id",
            set_exprs={
                "executed_quantity": new_exec,
                "status": F.when(
                    new_exec >= F.col("t.quantity"), F.lit("filled")
                )
                .when(new_exec > 0, F.lit("partially_filled"))
                .otherwise(F.lit("pending")),
            },
            evolve_schema=True,
            # ADVICE r9: promote ONLY venue — `fq` is a join-side helper
            # for set_exprs and must not pollute the persisted schema
            evolve_cols=["venue"],
        )

        def rollup(df: DataFrame, version: int) -> DataFrame:
            venue_present = "venue" in df.columns  # measured, not assumed
            venue = F.col("venue") if venue_present else F.lit(None).cast(
                "string"
            )
            return (
                df.withColumn("__venue", venue)
                .groupBy("status")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_tickets"),
                    F.sum("executed_quantity")
                    .cast("long")
                    .alias("total_executed_qty"),
                    F.count("__venue").cast("long").alias("n_with_venue"),
                    F.countDistinct("__venue").cast("long").alias("n_venues"),
                )
                .select(
                    F.lit(version).cast("int").alias("version"),
                    F.lit(venue_present).alias("venue_col_present"),
                    "*",
                )
            )

        v1 = rollup(read_merge_table_asof(spark, tickets_dir, 1), 1)
        v2 = rollup(read_merge_table(spark, tickets_dir), 2)
        return v1.unionByName(v2).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)
