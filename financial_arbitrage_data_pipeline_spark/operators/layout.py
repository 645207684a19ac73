"""Storage-layout maintenance: small-file compaction, z-order clustering,
and range layout — the table-maintenance operators a 100 TB deployment
runs continuously even though no query names them.

Why they exist here: the streaming storage lane (K1) writes one file per
shuffle partition per trigger (`streaming/ingest.py` scale note), so a
day of 1 s micro-batches leaves ~86k tiny files per partition — scan
throughput then dies on file-open overhead and the NameNode/S3 listing,
not on bytes. The reference never hits this because InfluxDB compacts
internally (TSM compaction); a parquet/Delta lake needs it as an explicit
job. OPTIMIZE / bin-packing in Delta and Iceberg's rewrite_data_files are
this exact operator; plain parquet gets the same effect with a
read → repartition-to-target-size → atomic-swap rewrite.

Z-ordering: multi-column range queries (ticker × time) can't both be
partition keys; interleaving their bits into one sort key keeps rows
close in BOTH dimensions, so min/max row-group pruning stays selective
for either predicate. This is the documented mechanism behind Delta's
ZORDER BY — implemented here as a pure integer column expression.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.tables import load_table


def table_bytes(table_dir: str) -> int:
    """Total parquet payload bytes on disk (drives the target file count;
    at warehouse scale this comes from table metadata, not a listing)."""
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True)
    )


def parquet_file_count(table_dir: str) -> int:
    return len(glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True))


def compact_small_files(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~target_file_bytes files,
    optionally range-clustered on `sort_cols` (repartitionByRange +
    sortWithinPartitions: globally range-partitioned, locally sorted —
    the layout that makes min/max pruning on the sort key exact). The
    rewrite lands in a tmp dir and swaps in via two renames; a crash
    between them leaves the table parked at `<dir>.__compact_old__`,
    which the next call restores before rewriting. Returns the new
    file count.

    Scale notes: the rewrite is one shuffle of the table — schedule it
    per partition (source=...) so each run touches one partition's
    worth; Delta/Iceberg OPTIMIZE does the bin-packing incrementally
    with transaction-log atomicity instead of the rename swap."""
    n_files = max(1, (table_bytes(table_dir) + target_file_bytes - 1) // target_file_bytes)
    df = spark.read.parquet(table_dir)
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(n_files)

    tmp = table_dir.rstrip("/") + ".__compact_tmp__"
    old = table_dir.rstrip("/") + ".__compact_old__"
    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(old):
        if os.path.exists(table_dir):
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(old, table_dir)
    out.write.mode("overwrite").parquet(tmp)
    os.rename(table_dir, old)
    os.rename(tmp, table_dir)
    shutil.rmtree(old, ignore_errors=True)
    return parquet_file_count(table_dir)


ZORDER_BITS = 16


def zorder_key(x: str, y: str, bits: int = ZORDER_BITS) -> Column:
    """Morton (z-curve) key of two non-negative int columns: bit i of x
    lands at position 2i, bit i of y at 2i+1. Rows sorted by this key
    are clustered in both dimensions at once, so row-group min/max
    pruning works for predicates on EITHER column — the clustering
    trade-off a single-column sort can't make. Pure integer expression
    (shift/and/or), codegen'd; 2*bits ≤ 62 keeps the key in a signed
    long. Columns must be pre-scaled to [0, 2^bits) — at scale, rank- or
    quantile-bucket them first (ties are fine; the curve only needs
    approximate locality)."""
    assert 2 * bits <= 62, "z-key must fit a signed long"
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
    return F.expr(" + ".join(terms))


def zorder_rewrite(
    spark: SparkSession,
    table_dir: str,
    x: str,
    y: str,
    bits: int = ZORDER_BITS,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Cluster a table on the z-curve of (x, y): compute the Morton key,
    range-partition + sort on it, drop the key, swap in. The parquet
    footer then carries tight min/max for BOTH x and y per row group."""
    n_files = max(1, (table_bytes(table_dir) + target_file_bytes - 1) // target_file_bytes)
    df = spark.read.parquet(table_dir).withColumn("__z", zorder_key(x, y, bits))
    out = (
        df.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    tmp = table_dir.rstrip("/") + ".__compact_tmp__"
    old = table_dir.rstrip("/") + ".__compact_old__"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    out.write.mode("overwrite").parquet(tmp)
    os.rename(table_dir, old)
    os.rename(tmp, table_dir)
    shutil.rmtree(old, ignore_errors=True)
    return parquet_file_count(table_dir)


def with_quantile_buckets(
    df: DataFrame, cols: dict[str, str], bits: int = ZORDER_BITS
) -> DataFrame:
    """Pre-scale arbitrary orderable columns into [0, 2^bits) rank
    buckets so they can feed `zorder_key`: `cols` maps source column →
    bucket column name. Uses ntile over a global order (exact, single
    sort) — correct at test scale and for the final within-rewrite sort.
    At 100 TB swap the window for approx_percentile boundaries (one
    mergeable sketch pass, then a when-chain bucket lookup): the z-curve
    only needs approximate locality, so sketch error costs nothing."""
    out = df
    for src, dst in cols.items():
        w = Window.orderBy(src)
        out = out.withColumn(dst, (F.ntile(1 << bits).over(w) - 1).cast("long"))
    return out


# ---------------------------------------------------------------------------
# Oracle-checked layout evidence: z-order vs linear zone-map pruning
# ---------------------------------------------------------------------------
_ZL_BITS = 8  # 256x256 normalized grid
_ZL_FILE_SHIFT = 6  # 1024 files either layout
_ZL_P_LO, _ZL_P_HI = 70, 85  # 2-D range predicate, deliberately NOT grid-aligned
_ZL_S_LO, _ZL_S_HI = 120, 135


def _morton8(p: str, s: str, shift: str) -> str:
    """Morton-interleave expression for two 8-bit ints, written with
    engine-specific shift syntax: shift='fn' emits
    shiftleft/shiftright (Spark SQL), shift='op' emits <</>> (DuckDB)."""
    terms = []
    for i in range(_ZL_BITS):
        if shift == "fn":
            terms.append(f"shiftleft(shiftright({p}, {i}) & 1, {2 * i + 1})")
            terms.append(f"shiftleft(shiftright({s}, {i}) & 1, {2 * i})")
        else:
            terms.append(f"((({p} >> {i}) & 1) << {2 * i + 1})")
            terms.append(f"((({s} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


_ZL_ORACLE = f"""
WITH bounds AS (
  SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
         MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
  FROM lineitem
),
norm AS (
  SELECT ((l_partkey - pmin) * 255) // greatest(1, pmax - pmin) AS np,
         ((l_suppkey - smin) * 255) // greatest(1, smax - smin) AS ns
  FROM lineitem, bounds
),
keyed AS (
  SELECT np, ns, ({_morton8('np', 'ns', 'op')}) AS z FROM norm
),
placed AS (
  SELECT 'zorder' AS layout, z >> {_ZL_FILE_SHIFT} AS file_id, np, ns FROM keyed
  UNION ALL
  SELECT 'linear' AS layout, np * 4 + (ns >> {_ZL_FILE_SHIFT}) AS file_id,
         np, ns FROM keyed
),
zonemap AS (
  SELECT layout, file_id,
         MIN(np) AS min_p, MAX(np) AS max_p,
         MIN(ns) AS min_s, MAX(ns) AS max_s,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CASE WHEN np BETWEEN {_ZL_P_LO} AND {_ZL_P_HI}
                        AND ns BETWEEN {_ZL_S_LO} AND {_ZL_S_HI}
                       THEN 1 ELSE 0 END) AS BIGINT) AS match_cnt
  FROM placed GROUP BY layout, file_id
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN NOT (max_p < {_ZL_P_LO} OR min_p > {_ZL_P_HI}
                               OR max_s < {_ZL_S_LO} OR min_s > {_ZL_S_HI})
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_files_scanned,
       CAST(SUM(CASE WHEN NOT (max_p < {_ZL_P_LO} OR min_p > {_ZL_P_HI}
                               OR max_s < {_ZL_S_LO} OR min_s > {_ZL_S_HI})
                     THEN cnt ELSE 0 END) AS BIGINT) AS n_rows_scanned,
       CAST(SUM(match_cnt) AS BIGINT) AS n_rows_matching,
       CASE WHEN SUM(match_cnt) > 0
            THEN CAST(SUM(CASE WHEN NOT (max_p < {_ZL_P_LO} OR min_p > {_ZL_P_HI}
                                         OR max_s < {_ZL_S_LO} OR min_s > {_ZL_S_HI})
                               THEN cnt ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(match_cnt) AS DOUBLE)
            ELSE 0.0 END AS scan_amplification,
       CAST(SUM(max_p - min_p + 1) AS DOUBLE) / 256.0 AS avg_depth_p,
       CAST(SUM(max_s - min_s + 1) AS DOUBLE) / 256.0 AS avg_depth_s
FROM zonemap
GROUP BY layout
"""


@query(
    "zorder_layout_pruning",
    oracle=_ZL_ORACLE,
    tags=("storage-layout", "zone-map", "pruning"),
)
def zorder_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE layout decision, measured: lay the same table out z-ordered
    vs single-key-sorted (1024 simulated files each), build each file's
    zone map (per-column min/max — exactly what parquet footers carry),
    and grade a 2-D range predicate: how many files can be SKIPPED, how
    many rows must be read per matching row (scan amplification), and
    the per-dimension clustering depth (sum of zone widths / domain —
    Snowflake's clustering-depth metric). This is the oracle-checked
    justification for `zorder_rewrite` above: the linear (p-major)
    layout prunes perfectly on p but its files span ALL of s, so an
    (p AND s) predicate reads every p-matching file; the z-curve bounds
    BOTH widths per file, collapsing amplification. Keys normalize to
    the 256-grid via a min/max scalar pass (two-column scan, 1-row
    broadcast — at warehouse scale these bounds come from table stats
    for free); all arithmetic is integer (floor divides on
    non-negatives, Morton interleave as shift/and sums) until the two
    final metric divides. Plan: one (layout, file) aggregation shuffle
    over the x2 map-side explode, then a 2-group rollup.

    Cites: Delta OPTIMIZE ZORDER semantics; reference has no analogue
    (InfluxDB TSM handles layout internally)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bounds = li.agg(
        F.min("l_partkey").alias("pmin"),
        F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
    )
    norm = li.crossJoin(F.broadcast(bounds)).select(
        F.expr("((l_partkey - pmin) * 255) div greatest(1, pmax - pmin)").alias("np"),
        F.expr("((l_suppkey - smin) * 255) div greatest(1, smax - smin)").alias("ns"),
    )
    keyed = norm.withColumn("z", F.expr(_morton8("np", "ns", "fn")))
    placed = keyed.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(f"shiftright(z, {_ZL_FILE_SHIFT})").alias("file_id"),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.expr(f"np * 4 + shiftright(ns, {_ZL_FILE_SHIFT})").alias(
                        "file_id"
                    ),
                ),
            )
        ).alias("pf"),
        "np",
        "ns",
    ).select("pf.layout", "pf.file_id", "np", "ns")
    in_band = F.col("np").between(_ZL_P_LO, _ZL_P_HI) & F.col("ns").between(
        _ZL_S_LO, _ZL_S_HI
    )
    zonemap = placed.groupBy("layout", "file_id").agg(
        F.min("np").alias("min_p"),
        F.max("np").alias("max_p"),
        F.min("ns").alias("min_s"),
        F.max("ns").alias("max_s"),
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(in_band, 1).otherwise(0)).alias("match_cnt"),
    )
    scanned = ~(
        (F.col("max_p") < _ZL_P_LO)
        | (F.col("min_p") > _ZL_P_HI)
        | (F.col("max_s") < _ZL_S_LO)
        | (F.col("min_s") > _ZL_S_HI)
    )
    rows_scanned = F.sum(F.when(scanned, F.col("cnt")).otherwise(0))
    return zonemap.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(scanned, 1).otherwise(0)).alias("n_files_scanned"),
        rows_scanned.alias("n_rows_scanned"),
        F.sum("match_cnt").alias("n_rows_matching"),
        F.when(
            F.sum("match_cnt") > 0,
            rows_scanned.cast("double") / F.sum("match_cnt").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("scan_amplification"),
        (
            F.sum(F.col("max_p") - F.col("min_p") + 1).cast("double") / F.lit(256.0)
        ).alias("avg_depth_p"),
        (
            F.sum(F.col("max_s") - F.col("min_s") + 1).cast("double") / F.lit(256.0)
        ).alias("avg_depth_s"),
    )


# ---------------------------------------------------------------------------
# Oracle-checked compaction planning: the OPTIMIZE bin-packing report
# ---------------------------------------------------------------------------
_CP_TARGET = 4096  # target compacted-file bytes (docs-as-files model)


@query(
    "compaction_plan_report",
    oracle=f"""
WITH f AS (
  SELECT lang, source, doc_id, n_chars,
         SUM(n_chars) OVER (PARTITION BY lang, source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n_chars AS start_off
  FROM documents
),
binned AS (
  SELECT lang, source, doc_id, n_chars,
         start_off // {_CP_TARGET} AS bin
  FROM f
),
bins AS (
  SELECT lang, source, bin,
         CAST(COUNT(*) AS BIGINT) AS n_files,
         CAST(SUM(n_chars) AS BIGINT) AS bin_bytes
  FROM binned GROUP BY lang, source, bin
)
SELECT lang, source,
       CAST(SUM(n_files) AS BIGINT) AS n_input_files,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(bin_bytes) AS BIGINT) AS total_bytes,
       CAST(MAX(n_files) AS BIGINT) AS max_files_per_bin,
       CAST(SUM(bin_bytes) AS DOUBLE)
         / (CAST(COUNT(*) AS DOUBLE) * {_CP_TARGET}.0) AS fill_ratio,
       CAST(SUM(n_files) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS reduction_ratio
FROM bins
GROUP BY lang, source
""",
    tags=("storage-layout", "compaction"),
)
def compaction_plan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPTIMIZE planning report, oracle-checked: model every
    document as one small file (the one-file-per-doc crawl-dump
    pathology `compact_small_files` exists to fix), pack each
    (lang, source) partition's files into target-size compacted bins by
    the concat-then-split rule — a file belongs to the bin its STARTING
    byte offset falls in, i.e. bin = exclusive-prefix-sum div target —
    and report per partition: input files, planned bins, the
    file-count reduction factor, and the achieved fill ratio. The
    packing is the same deterministic sequential rule Delta/Iceberg
    OPTIMIZE applies after ordering, stated as pure window algebra:
    exclusive cumsum (the running SUM minus own size), one integer
    floor divide (offsets are non-negative, so Spark's truncating div
    and DuckDB's flooring // agree). Scale plan: ONE sort-shuffle on
    the partition key serves the cumsum window AND both rollups (the
    (lang, source, bin) groupBy and the (lang, source) report share its
    clustering); the plan the planner emits is itself partition-local,
    which is why OPTIMIZE parallelizes per partition at 100 TB."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "source", "doc_id", "n_chars"
    )
    binned = docs.select(
        "lang",
        "source",
        "n_chars",
        F.expr(
            f"(sum(n_chars) over (partition by lang, source order by doc_id"
            f" rows unbounded preceding) - n_chars) div {_CP_TARGET}"
        ).alias("bin"),
    )
    bins = binned.groupBy("lang", "source", "bin").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_chars").alias("bin_bytes"),
    )
    return bins.groupBy("lang", "source").agg(
        F.sum("n_files").alias("n_input_files"),
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("bin_bytes").alias("total_bytes"),
        F.max("n_files").alias("max_files_per_bin"),
        (
            F.sum("bin_bytes").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(float(_CP_TARGET)))
        ).alias("fill_ratio"),
        (
            F.sum("n_files").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("reduction_ratio"),
    )
