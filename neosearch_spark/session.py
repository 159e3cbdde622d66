"""SparkSession factory tuned for this engine.

Local-mode testing stands in for a multi-executor cluster; all
operators are written so the same plan scales out (partition-count
knobs, AQE, broadcast thresholds).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "neosearch_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS or all local cores; shuffle
    partitions default to the core count (not Spark's 200 — wrong for
    both tiny local data and for a real cluster, where it should be
    ~2-3x total executor cores).

    ``spark.local.dir`` stays at the platform default (disk-backed)
    so shuffle spill actually relieves memory pressure.  The
    benchmark harnesses opt into tmpfs scratch explicitly (see
    tools/scaling_bench.py: on a single box the one shared disk
    would otherwise measure the disk, not the engine — a real
    cluster's node-local scratch scales with node count).  $SPARK_GRAFT_LOCAL_DIR overrides either way.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        # text tokenization is CPU-heavy: split scans at ~16 MB (not
        # the 128 MB default) so a handful of medium parquet files
        # still feeds every core — the map side of the build would
        # otherwise serialize on a few big splits.  At real scale the
        # split count is huge either way; this only matters when
        # files-per-stage ~ core count.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # default 10k-row Arrow batches add ~4x overhead to the
        # mapInArrow block encoder; 512k rows ≈ 25-50 MB per batch
        # per core — well within executor memory at 32 cores
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "524288")
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # v2 commit: task outputs move to the final location at task
        # commit (distributed) instead of serial driver-side renames
        # at job commit — matters when stages write hundreds of files
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    # the user's explicit env knob wins over harness extra_conf
    if os.environ.get("SPARK_GRAFT_LOCAL_DIR"):
        builder = builder.config("spark.local.dir", os.environ["SPARK_GRAFT_LOCAL_DIR"])
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
