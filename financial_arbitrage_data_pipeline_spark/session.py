"""SparkSession factory and the engine's execution posture.

The reference has no planner — every physical decision is hand-coded
(SURVEY §4). Here the posture is the opposite: declare the plan and let
Catalyst + Tungsten (with AQE, on by default in Spark 4) choose physical
strategies. `POSTURE` is the one table of runtime SQL confs the engine
relies on; `get_spark` applies it through the builder and
`__spark_entry__._configure` applies it to a session someone else built.
Launch-only settings (driver memory, UI) and shuffle-partition sizing
are per-caller and stay out of the table.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

POSTURE: dict[str, str] = {
    # The reference stores ns epochs in UTC (`database/models/influx.py:142-143`).
    "spark.sql.session.timeZone": "UTC",
    # Pandas conversions and Pandas-UDF paths are Arrow-batched, never per-row.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Local-mode sizing: at sf<=0.1 a whole shuffle stage fits in one
    # 64 MB advisory partition and AQE would coalesce post-shuffle work
    # onto one core; 1 MB keeps small stages parallel. Full-scale stages
    # don't need it — a cluster deployment overrides it via `extra_conf`.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
    # InferFiltersFromGenerate excluded (r13, guide §4.4's duplicated-
    # evaluation class for pure SQL expressions): the rule injects
    # `size(<generator input>) > 0` under every non-outer explode, and
    # filter pushdown then SUBSTITUTES the generator input's full
    # definition into that filter and drags it below repartitions/unions.
    # In this engine generate inputs are always expensive DERIVED arrays
    # (shingle sets, md5 cut points, chunk slices) computed in the same
    # stage as the generate — the inference buys no scan pruning and
    # re-evaluates the whole pipeline once per row in the (often
    # scan-parallel, 2-task) pre-exchange stage. Measured at sf0.1:
    # cdc_shared_chunks 19→1.2-4.9 s, ngram_jaccard_pairs 5.5→2.3-4.1 s,
    # suffix family ~2× — zero plan benefit lost (no stored-array scans
    # rely on it). Results are rule-invariant.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Legacy-compat: when testdata ships events.ts as parquet
    # TIMESTAMP(NANOS), read it as ns-epoch LongType (the reference's ns
    # timing-chain representation, `database/models/influx.py:45-63`).
    # Current data ships timestamp[us]; either way the scan normalizes to
    # canonical BIGINT ns via sources.tables.canonicalize_events — queries
    # never assume a physical encoding.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Streaming checkpoint IO posture (r13, guide §7.3 diagnosis): without
    # libhadoop native, the default FileContext-based checkpoint manager
    # resolves every metadata op through Hadoop's Stat/Shell fallback — a
    # fork+exec of `readlink`/`ls` PER CALL (measured: 28k forks / ~230
    # cpu-sec for ONE 5-batch stream-stream join at 32 state partitions).
    # The FileSystem-based manager uses java.nio file status instead and
    # has identical atomic-rename semantics on POSIX filesystems; the
    # Spark 4.1 checksum wrapper doubles checkpoint metadata IO (sibling
    # .checksum file per checkpoint file) and is redundant under this
    # engine's fresh-checkpoint-per-run lanes. Deployments that checkpoint
    # to HDFS/S3 and want the FileContext fail-if-exists rename or
    # corruption detection back override both via `extra_conf` (measured
    # A/B on streaming_click_attribution, local[32]: wall 21.4→9.9 s,
    # cpu 308→76 s, forks 28k→3.9k).
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
}


def driver_memory() -> str:
    """`spark.driver.memory` for a session this module launches:
    `$SPARK_GRAFT_DRIVER_MEM` when set, else half the machine's physical
    RAM capped at 16g. In local mode the driver heap also hosts every
    executor task, so the other half is left to the Python workers,
    off-heap Arrow buffers and the OS."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, phys // 2**31))}g"


def get_spark(
    app_name: str = "financial_arbitrage_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession with `POSTURE` applied.

    `master` defaults to local[$SPARK_GRAFT_CPUS] (or local[*]); on a real
    cluster the caller passes the cluster master / relies on spark-submit.
    Shuffle partitions default to the local core count (on a real cluster
    override to ~2-3x total cores; AQE coalesces the excess). `extra_conf`
    is applied last, so it overrides any posture entry.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    spark = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=POSTURE)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        .config(map=extra_conf or {})
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
