"""SparkSession construction for the engine.

The reference initializes process-global service handles once per run
(/root/reference/gemProc2caom2/composable.py:107-113); the Spark analog
is one SparkSession configured for the workload:

- AQE on (runtime partition coalescing + skew-join splitting),
- shuffle partitions sized to the parallelism level, not the 200 default,
- Arrow enabled for every pandas-UDF stage,
- UTC session timezone so timestamps compare exactly against external
  oracles (DuckDB is UTC-naive).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "gemproc2caom2_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    ``shuffle_partitions`` defaults to 2x the local core count -- on a
    real cluster pass total executor cores (or a multiple) instead.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = _parse_local_cores(master)
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes partitions by SHUFFLE BYTES, but this engine's
        # reduce-side work (recapture collapse, LSH fold-backs) is
        # CPU-per-row, and web text lz4-compresses 10-20:1 — with the
        # default 1m floor a whole groupBy landed on ONE task (measured:
        # the collapse reduce of a 24k-doc corpus ran serially at every
        # core count, capping scaling efficiency at ~0.65). A 64k floor
        # lets parallelism-first coalescing keep one partition per core;
        # at production scale partitions are far above either floor, so
        # the setting is inert there.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet scans: keep file-split sizing explicit so partition
        # counts stay predictable when the input grows 100x
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # web documents are fat rows (100s of KB of text/html); the
        # default 4096-row vectorized reader batch can ask for GBs of
        # contiguous heap per task — size down for this row shape
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        # shuffle writes: the bypass-merge writer concatenates one file
        # per reducer with FileChannel.transferTo (mmap/unmap per
        # segment) — under a containerized FS the process-wide mmap
        # semaphore serializes all map tasks (measured: 23/32 task
        # threads blocked in transferTo, 5x wall-time inflation). Use
        # the sort-based writer + plain buffered copies instead.
        .config("spark.shuffle.sort.bypassMergeThreshold", "8")
        .config("spark.file.transferTo", "false")
        # InferFiltersFromGenerate synthesizes `size(e)>0 AND isnotnull(e)`
        # below every explode and predicate pushdown then sinks it under
        # this engine's parallelizing repartitions — so the expensive
        # shingle/span/trigram ARRAY EXPRESSION evaluates twice, once of
        # them serially inside the scan task (measured: dd4 7.2 s -> 1.6 s
        # at sf1.0 without the rule). Generate already emits nothing for
        # null/empty inputs, so the inferred filter only ever re-evaluates
        # the generator input for pruning — a loss whenever that input is
        # an expensive kernel, at any scale.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # curate() alone generates more distinct classes than the default
        # 100-entry codegen cache holds, so a long-lived session running
        # it repeatedly recompiled ~30 classes per run (and re-JITted
        # them) — up to 1.7x the CPU of a run without misses
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _parse_local_cores(master: str) -> int:
    """Core count of a local master: ``local`` -> 1; ``local[N]`` and
    ``local[N,F]`` (F = task failures allowed) -> N; ``local[*]`` and
    ``local[*,F]`` -> the cpu count. Any other master -> 4."""
    if master == "local":
        return 1
    m = re.fullmatch(r"local\[(\*|\d+)(?:,\d+)?\]", master)
    if m is None:
        return 4
    if m.group(1) == "*":
        return os.cpu_count() or 4
    return int(m.group(1))
