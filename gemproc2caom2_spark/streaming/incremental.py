"""Streaming / incremental execution — the run_by_state analog.

The reference's incremental mode is time-boxed batch: persisted state
file + interval, re-invoked by a scheduler
(/root/reference/gemProc2caom2/composable.py:74-77,
/root/reference/config/config.yml:63-73). Two Spark equivalents, both
provided:

1. ``run_available_now`` — Structured Streaming over a file source with
   ``Trigger.AvailableNow``: processes everything present, checkpoints,
   exits. Re-invocation picks up only new files — exactly the
   todo/state-file contract, with Spark's checkpoint dir playing
   state.yml.
2. ``windowed_quality_stream`` — continuous mode: watermarked tumbling
   windows aggregating verdict counts per window (late events beyond
   the watermark are dropped, the rejected-forever analog).

The same row-local stage chain is used as in batch (plans/pipeline);
the LSH dedup join is NOT part of the stream (corpus-level dedup needs
a bounded corpus — it runs in the batch compaction pass, like the
reference runs heavy visitors in the ingest task, not the scrape task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemproc2caom2_spark.operators.heuristics import DEFAULT_RULES, RuleConfig
from gemproc2caom2_spark.plans.pipeline import curate, unpersist_curate_cache
from gemproc2caom2_spark.sources.datagen import INPUT_SCHEMA


def stream_source(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-based streaming source over the input schema (stand-in for
    a Kafka/WARC-queue source; one parquet file per micro-batch batch)."""
    return (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def run_available_now(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    rules: RuleConfig = DEFAULT_RULES,
) -> None:
    """Incremental batch: curate all new files since the last checkpoint,
    write to the curated table, exit.

    Effectively exactly-once per input file: foreachBatch alone is only
    at-least-once (a crash between the sink write and the streaming
    checkpoint commit replays the epoch), so each epoch writes to its
    own ``epoch_id=<n>`` partition directory in OVERWRITE mode — a
    replayed epoch rewrites the same directory with the same rows
    (idempotent), never appends a second copy. The batch path's
    _COMMITTED marker (plans/checkpoint.py) is the same idea.

    Dedup scope is BATCH-LOCAL here (a near-dup of a doc from an earlier
    epoch is not flagged); cross-epoch dedup belongs to the batch
    compaction pass (plans/checkpoint.run_incremental cross_run_dedup)."""
    src = stream_source(spark, input_dir)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        out = curate(
            batch_df,
            rules=rules,
            num_partitions=None,  # micro-batches are small; no reshuffle
        )
        out.write.mode("overwrite").parquet(f"{output_dir}/epoch_id={epoch_id}")
        # per-epoch cache release: a long stream must not accumulate one
        # persisted pre-dedup frame per micro-batch
        unpersist_curate_cache(out)

    q = (
        src.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_quality_stream(
    src: DataFrame,
    rules: RuleConfig = DEFAULT_RULES,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window rollup of verdict counts — the
    observe_execution metrics (config.yml:53-56) as a live stream.

    Row-local verdict only (Column exprs; no corpus-level dedup state),
    so the stream stays fully pipelined with no custom state store.
    """
    from gemproc2caom2_spark.functions.langid import langid_expr
    from gemproc2caom2_spark.operators.heuristics import ANALYSIS_CAP, quality_struct
    from gemproc2caom2_spark.operators.verdict import cheap_drop_reason

    d = src.withColumn(
        "text_extracted", F.coalesce(F.col("text"), F.lit(""))
    )
    d = d.withColumn(
        "lang_pred",
        langid_expr(F.substring(F.col("text_extracted"), 1, ANALYSIS_CAP)),
    ).withColumn("quality", quality_struct("text_extracted"))
    d = d.withColumn(
        "drop_reason",
        cheap_drop_reason(
            F.col("text_extracted"), F.col("quality"), F.col("lang_pred"), rules
        ),
    )
    return (
        d.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).getField("start").alias("window_start"),
            F.coalesce(F.col("drop_reason"), F.lit("keep")).alias("verdict"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("quality").getField("doc_len")).alias("total_chars"),
        )
    )
