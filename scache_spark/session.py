"""SparkSession factory with scale-oriented defaults.

Every knob here is chosen for the 100 TB / 1000-executor target and
merely *tested* on local[N]:

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace the reference's pre-scheduled
  reduce placement + shuffle-size prediction (SCache
  ``MapOutputTracker.scala:193-217``, ``sim/train.py:11-29``) with
  exact observed statistics.
- lz4 shuffle/IO compression: same default the reference ships
  (``io/CompressionCodec.scala:94-95``).
- UTC session timezone: fixture timestamps are UTC; keeps the DuckDB
  oracle and Spark in agreement.
- Arrow enabled: all Python↔JVM transfer is columnar; any unavoidable
  Python stays in vectorized pandas UDFs.
- Engine-owned PySpark daemon (``spark.python.daemon.module`` =
  ``scache_spark._pydaemon``): PySpark's worker calls
  ``importlib.invalidate_caches()`` at the start of every task, and
  CPython 3.11 answers by re-reading the directory of every zip archive
  with a cached importer (``pyspark.zip`` once per imported subpackage,
  the spark-core jar twice): 0.2-0.3 s of CPU before a task reads its
  first row, measured on a 4-vCPU x86 VM.  The daemon re-reads an
  archive only when its mtime or size changed.  It is fixed here, not
  a setting.  Deployment rule: executors must be able to import
  ``scache_spark`` (on the workers' ``PYTHONPATH``, installed, or from
  the working directory).  The engine's UDFs already needed that; now
  every Python task does, including ones that run no engine code.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Partition sizing: at 100 TB with ~128 MB target partitions you want
# O(800k) input splits and a shuffle partition count sized so a
# partition fits comfortably in executor memory.  Locally the
# steady-state count is one per core; AQE's initialPartitionNum
# (set 4× higher below) is what actually starts shuffles wide.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(
    app_name: str = "scache-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        # --- adaptive execution: the engine's answer to the reference's
        # pre-scheduling/prediction plane (SURVEY.md §4) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # start shuffles wide (4× the steady-state count) and let AQE
        # coalesce down from observed sizes — the scalable direction:
        # too many partitions coalesce cheaply, too few spill
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(4 * int(os.environ.get("SPARK_GRAFT_CPUS", "32"))),
        )
        # AQE coalescing floor: with parallelismFirst (the default) AQE
        # sizes post-shuffle partitions at max(total/defaultParallelism,
        # minPartitionSize).  At cluster scale the first term is
        # hundreds of MB and the floor never binds; on local[32] a
        # CPU-dense self-join or window stage whose shuffle is only a
        # few MB collapses to ONE task under the 1 MB default floor and
        # serializes all its per-row math (measured: the 1.1 MB
        # within-cell pair join of dedup_semantic_cells ran 1.5 s on a
        # single core).  64 KB keeps such stages at defaultParallelism
        # without changing anything once real data volumes arrive —
        # the scale-adaptive direction §2.2 asks for.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        # runtime row-level bloom filters: prune fact rows before the
        # shuffle when joining against a selective side (thresholds are
        # sized for real clusters; tests lower them to observe injection)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # --- shuffle sizing ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")  # 128 MB splits
        # --- broadcast: dims up to 64 MB ship to every executor instead
        # of shuffling the fact side (replication push analog,
        # SCache BlockManager.replicate) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- shuffle writer: always the serialized sort writer ---
        # Every Spark SQL exchange has mapSideCombine=false, so with R
        # below the bypass threshold (default 200) the bypass-merge
        # writer runs and opens R partition FILES per map task — at
        # M=32 maps and the AQE initial R=128 that is 4096 file
        # creates per shuffle, pure filesystem-metadata overhead
        # (measured 1.4-2.3s per tiny shuffle on this box vs 0.3s
        # serialized; optimization guide §2.2: fewer, larger shuffle
        # files).  At production scale R is in the thousands, the
        # threshold never fires, and the serialized single-file-per-
        # map writer is what runs anyway — forcing it locally makes
        # the local shuffle machinery MATCH the at-scale one instead
        # of exercising a small-R-only code path.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        # --- codecs: lz4 everywhere, matching the reference default ---
        .config("spark.io.compression.codec", "lz4")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # --- python boundary: Arrow-batched, never row-at-a-time ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- determinism for oracle matching ---
        .config("spark.sql.session.timeZone", "UTC")
        # parquet timestamps in fixtures are ms/ns; read as TIMESTAMP
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # TIMESTAMP(NANOS) parquet columns (events.ts) are read as raw
        # nanos longs and converted in catalog.load_table — Spark has
        # no nanosecond TimestampType
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # quieter driver-side logs in local runs
        .config("spark.ui.enabled", "false")
        # Python workers fork from the engine's daemon, which stops each
        # task re-reading unchanged zip archives (see module docstring)
        .config("spark.python.daemon.module", "scache_spark._pydaemon")
    )
    if master:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
