"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode knobs are proxies for the real-cluster settings documented next
to each line; the same builder is what `spark-submit --py-files` jobs use.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of host RAM, capped at 48g, as a JVM size string; 48g when the
    host's RAM cannot be read (``meminfo`` in the /proc/meminfo format)."""
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "48g"
    return f"{min(kb // 2048, 48 * 1024)}m"


def get_spark(
    app: str = "spark-tsrollup",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 32)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        # shuffle parallelism ≈ cores locally; on a 1000-executor cluster this
        # is set to ~2-3× total cores and AQE coalesces the tail
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing target ~= stage bytes / cores, NOT a universal
        # constant: local bench stages move single-digit MBs, and the 8m
        # advisory collapsed CPU-heavy post-shuffle stages (Python codec
        # kernels after a groupBy) to ONE task — measured 1.7 s -> 1.6 s
        # compaction_merge, 1.05 -> 0.79 rollup_1m, sweep subset -15% at
        # 1m. On a 100 TB cluster stages move GBs+ per wave; set 64-256m
        # via SPARK_GRAFT_ADVISORY_PARTITION (guide: 100MB-1GB partitions).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "1m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize the Python worker round trip for the
        # vectorized codec kernels (whole-batch encode)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # a heap larger than the host's RAM fails late and far from its
        # cause; SPARK_DRIVER_MEM overrides the derived default
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # token corpora are dense (≈4 B/token on disk): the 128 MB default
        # yields single-task scans at bench scale; 16 MB keeps every core fed
        # (on a real cluster this is tuned to ~executor-cores × files)
        .config("spark.sql.files.maxPartitionBytes", "16777216")
        # chunk blobs are pre-compressed; zstd still wins ~25% on the stats
        # and partial-row columns and the write is disk-bound locally
        .config("spark.sql.parquet.compression.codec", "zstd")
        # InferFiltersFromGenerate turns explode(shingles) into a pushed-down
        # filter that re-inlines the WHOLE shingle expression chain (regex
        # split evaluated ~7x) below the repartition exchange — i.e. into the
        # narrow pre-shuffle stage, serializing the corpus' most expensive
        # projection into the scan's task count and evaluating it twice per
        # row. explode already drops empty/null arrays, so excluding the rule
        # is result-identical; measured 11.4 s -> 2.1 s on the MinHash-LSH
        # query (plan-verified: the giant Filter below Exchange disappears).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # constraint propagation is O(constraints x expressions) per
        # optimizer pass and this engine's plans carry big expression trees
        # (md5 banding, zip_with folds, staged keep-list joins): disabling
        # it cut the plan-heavy query set 17% (16.3 s -> 13.6 s, quiet
        # gauges) with identical results — the rule only ADDS inferred
        # filters, and every join key here is non-null by construction
        # (hashes/ids), so the inferred IsNotNull pruning it funds has
        # nothing to prune. Spark documents this switch as the standard
        # mitigation when planning dominates.
        .config("spark.sql.constraintPropagation.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
