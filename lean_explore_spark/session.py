"""SparkSession factory tuned for this engine.

Local-mode defaults match the sandbox (one JVM, N executor threads);
on a real cluster the same settings apply except ``master`` and the
memory knobs come from spark-submit. Timezone is pinned to UTC so
timestamp comparisons against DuckDB oracles are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DRIVER_MEM_CAP_MB = 24 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's memory, capped at 24g: local mode runs the
    driver JVM next to its Python workers on one box, and a heap sized
    past what the box has gets the JVM OOM-killed mid-run (24g on a
    15 GiB host did).  Hosts without ``meminfo`` keep the cap."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{max(1024, min(DRIVER_MEM_CAP_MB, kib // 2048))}m"
    except OSError:
        pass
    return f"{DRIVER_MEM_CAP_MB}m"


def get_spark(
    app_name: str = "lean_explore_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # MIN/MAX/COUNT over raw parquet answer from footer statistics
        # (no scan) — the builder's doc-id bounds pass becomes metadata
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # v2 commit: task-side renames instead of a DRIVER-SERIAL job
        # commit — the builder's partitionBy(shard) staging write emits
        # O(tasks × shards) files, and the v1 job-commit rename loop is
        # pure fixed driver time that caps N→4N scaling efficiency
        # (measured: ~12 s fixed across build stages at 400k docs).
        # v2's weaker job-commit atomicity is safe here: readers are
        # gated by app-level markers (_STAGING_DONE, manifest commits,
        # stats.json), never by directory existence
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # don't fsync every parquet file on local/test disks
        .config("spark.hadoop.parquet.summary.metadata.level", "NONE")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        # long multi-stage pipelines on ONE box accumulate dead shuffle
        # files (every stage's map output lands on the same local disk
        # and is only deleted when driver JVM GC collects the
        # ShuffleDependency); force the ContextCleaner's periodic GC
        # often enough that superseded-by-persist lineages free their
        # disk while later stages still run.  A real cluster divides
        # this footprint across per-node disks — this knob is about the
        # single-disk test box (r7: the 3.2M composed pipeline's
        # cumulative shuffle exceeded 52 GB free and killed the final
        # pack stage).
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "10min"),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
