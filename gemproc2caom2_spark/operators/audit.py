"""Audit/metrics emission — the ledger analog.

The reference persists success/failure/retry/progress/rejected ledgers
plus execution metrics between invocations
(/root/reference/config/config.yml:30-62 and observe_execution
:53-56). Here a single pass over the verdict output produces:

- per-partition metrics rows (mapInPandas with TaskContext partition id,
  timed) -> the observe_execution analog;
- per-(stage, drop_reason) rollups via plain groupBy -> the
  success/failure/rejected counts.

Both are plain DataFrames appended to the audit table by the
checkpoint protocol (plans/checkpoint.py) in the same commit as the
results — the reference's atomicity gap (ledger files vs repo writes
can diverge) is closed by the snapshot commit.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PARTITION_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("stage", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("n_in", T.LongType()),
        T.StructField("n_kept", T.LongType()),
        T.StructField("n_dropped", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
    ]
)


def partition_metrics(
    df: DataFrame, run_id: str, stage: str, keep_col: str = "keep"
) -> DataFrame:
    """One metrics row per partition: counts + wall-clock.

    mapInPandas so the pass is Arrow-batched and the partition id comes
    from TaskContext (the executor-truth, not a recomputed hash).
    """
    has_keep = keep_col in df.columns

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        t0 = time.monotonic()
        n_in = n_kept = 0
        for pdf in batches:
            n_in += len(pdf)
            if has_keep:
                n_kept += int(pdf[keep_col].fillna(False).sum())
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        wall_ms = int((time.monotonic() - t0) * 1000)
        yield pd.DataFrame(
            [
                (
                    run_id,
                    stage,
                    pid,
                    n_in,
                    n_kept if has_keep else n_in,
                    (n_in - n_kept) if has_keep else 0,
                    wall_ms,
                )
            ],
            columns=[f.name for f in PARTITION_METRICS_SCHEMA.fields],
        )

    cols = [keep_col] if has_keep else [df.columns[0]]
    return df.select(*cols).mapInPandas(_op, PARTITION_METRICS_SCHEMA)


def drop_reason_rollup(df: DataFrame, run_id: str) -> DataFrame:
    """Rejected/failure-category counts (the rejected.yml analog)."""
    return (
        df.groupBy("drop_reason")
        .agg(F.count("*").alias("n_docs"))
        .withColumn("run_id", F.lit(run_id))
        .select("run_id", "drop_reason", "n_docs")
    )
