"""Streaming twin of the incremental-file ledger (reference I1/S13).

The reference ingests new death files every ~2 months, tracking processed
files in a Redis list (``dags/global_dag.py:85-91,106``). Structured
Streaming's file source does exactly this natively: the checkpoint
records which files were consumed, ``Trigger.AvailableNow`` drains
whatever is new and terminates — a scheduled batch job with streaming's
exactly-once bookkeeping, no Redis required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def ingest_new_text_files(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
) -> int:
    """Drain unprocessed ``.txt`` files from source_dir into output_dir
    (parquet, append) exactly once; returns 1 + the id of the last batch
    this run committed (0 when nothing new was found). Batch ids are
    CUMULATIVE across runs of the same checkpoint — the return is a
    high-water mark, not a per-run batch count (a second run that
    ingests one file in checkpoint-global batch 1 returns 2).

    Re-running with the same checkpoint ingests only files that appeared
    since the last run — the checkpoint *is* the ledger.
    """
    stream = spark.readStream.format("text").load(source_dir + "/*.txt")
    query = (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    progress = query.lastProgress
    return int(progress["batchId"]) + 1 if progress else 0


def read_bounded_parquet_stream(
    spark: SparkSession, parquet_path: str, **reader_options: str
) -> DataFrame:
    """Open a parquet table as a bounded stream for availableNow
    processing — the shared reader mechanics behind read_events_stream
    and dedup_index.read_docs_stream (one copy, so hardening like the
    single-file glob handling can never drift between them)."""
    import os

    from data_eng_project_spark.tables import read_parquet

    reader = spark.readStream.schema(read_parquet(spark, parquet_path).schema)
    if os.path.isdir(parquet_path):
        # Spark-written directory table: stream the directory itself
        # (a pathGlobFilter on the directory NAME would match none of
        # the part-*.parquet files inside and silently read 0 rows).
        base = parquet_path
    else:
        # Single-file table (driver testdata layout): the streaming file
        # source needs a *directory* base path — point it at the parent
        # dir and glob-filter to just this table's file(s).
        base = os.path.dirname(parquet_path)
        reader = reader.option("pathGlobFilter", os.path.basename(parquet_path))
    for k, v in reader_options.items():
        reader = reader.option(k, v)
    return reader.parquet(base)


def write_batch_partition(df: DataFrame, batch_id: int, out_dir: str) -> None:
    """Land one micro-batch's (deterministic) rows in their own
    ``batch_id`` partition with DYNAMIC partition overwrite — a replayed
    batch (the at-least-once case foreachBatch exposes after a crash
    between state write and checkpoint commit) rewrites the same
    partition with the same rows instead of duplicating them. The
    exactly-once-without-a-transactional-format pattern shared by the
    rollup and dedup-index maintenance sinks."""
    from pyspark.sql import functions as F

    s = df.sparkSession
    prior = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )
    finally:
        s.conf.set("spark.sql.sources.partitionOverwriteMode", prior)


def read_events_stream(
    spark: SparkSession, events_parquet: str, **reader_options: str
) -> DataFrame:
    """Open the events table as a (bounded) stream for availableNow
    processing — used by streaming/windows.py and tests.

    Normalizes ts to session-TZ TIMESTAMP exactly like tables.load_table
    (the generator has shipped both TIMESTAMP(NANOS) — a long under the
    nanosAsLong conf — and naive timestamp[us], which arrives as
    TIMESTAMP_NTZ that watermarks reject).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    stream = read_bounded_parquet_stream(spark, events_parquet, **reader_options)
    raw_schema = stream.schema
    if isinstance(raw_schema["ts"].dataType, LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(raw_schema["ts"].dataType, TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def stream_upsert_events(
    spark: SparkSession,
    events_parquet: str,
    out_path: str,
    checkpoint: str,
    **reader_options: str,
) -> None:
    """Stream → idempotent keyed parquet sink via foreachBatch.

    Each micro-batch routes through operators/sink.write_idempotent, so
    the sink holds exactly-once rows even when (a) the source redelivers
    events across batches and (b) a failed batch is replayed from the
    checkpoint: the anti-join on event_id makes the batch write an
    upsert, and the checkpoint makes progress tracking transactional.
    This is the Structured-Streaming equivalent of the reference's
    INSERT … ON CONFLICT DO NOTHING Postgres load
    (dags/global_dag.py:144,206,213).
    """
    from data_eng_project_spark.operators.sink import write_idempotent

    stream = read_events_stream(spark, events_parquet, **reader_options)

    def _upsert(batch_df, batch_id: int) -> None:
        write_idempotent(batch_df.sparkSession, batch_df, out_path, "event_id")

    (
        stream.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_asof_enrich(
    spark: SparkSession,
    events_parquet: str,
    right: DataFrame,
    out_dir: str,
    checkpoint: str,
    on: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    left_cols: list[str] | None = None,
    **reader_options: str,
) -> DataFrame:
    """Stream-static BACKWARD AS-OF enrichment: each micro-batch of
    events attaches the latest static ``right`` row with
    ``right_ts <= left_ts`` per key (operators/temporal.asof_join), and
    the drained union equals the batch as-of join — because the right
    side is static, every left row's match is independent of every
    other left row, so the computation decomposes over micro-batches
    exactly (asserted multi-batch in tests). Structured Streaming has
    no native as-of join; this is the foreachBatch skin over the
    union-merge batch operator, the same pattern as stream_upsert /
    stream_maintain_rollup.

    Each batch's enriched rows land in their own ``batch_id`` partition
    with dynamic overwrite (replay-idempotent: the batch's rows are
    deterministic, so a replayed batch rewrites identical bytes).
    Returns the drained result read back from ``out_dir``."""
    from data_eng_project_spark.operators.temporal import asof_join

    stream = read_events_stream(spark, events_parquet, **reader_options)

    def _enrich(batch_df: DataFrame, batch_id: int) -> None:
        if left_cols:
            batch_df = batch_df.select(*left_cols)
        enriched = asof_join(
            batch_df,
            right,
            on=on,
            left_ts=left_ts,
            right_ts=right_ts,
            payload_cols=payload_cols,
        )
        write_batch_partition(enriched, batch_id, out_dir)

    (
        stream.writeStream.foreachBatch(_enrich)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(out_dir).drop("batch_id")


def write_rollup_delta(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    """One micro-batch's contribution to the maintained hourly rollup:
    the batch's partial-aggregate state lands in its own ``batch_id``
    partition with DYNAMIC partition overwrite — a replayed batch (the
    at-least-once case foreachBatch exposes after a crash between state
    write and checkpoint commit) rewrites the same partition with the
    same rows instead of double-counting. This is what makes the
    maintained state exactly-once without a transactional table format.
    """
    from data_eng_project_spark.operators.temporal import hourly_rollup_state

    write_batch_partition(hourly_rollup_state(batch_df), batch_id, state_dir)


def stream_maintain_rollup(
    spark: SparkSession,
    events_parquet: str,
    state_dir: str,
    checkpoint: str,
    **reader_options: str,
) -> None:
    """Continuous-aggregate maintenance as a stream: every micro-batch
    appends its mergeable rollup delta (see write_rollup_delta); serving
    reads merge the rollup-sized deltas (read_maintained_rollup). History
    events are never rescanned — the 100 TB-lake refresh pattern, batch
    twin in plans/temporal.incremental_rollup_merge."""
    stream = read_events_stream(spark, events_parquet, **reader_options)
    (
        stream.writeStream.foreachBatch(
            lambda df, bid: write_rollup_delta(df, bid, state_dir)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_maintained_rollup(spark: SparkSession, state_dir: str) -> DataFrame:
    """Serving view of the maintained rollup: merge the per-batch deltas
    (cost ∝ state size, AQE-coalesced) and finalize."""
    from data_eng_project_spark.operators.temporal import (
        finalize_rollup,
        merge_rollup_states,
    )

    state = spark.read.parquet(state_dir).drop("batch_id")
    return finalize_rollup(merge_rollup_states(state))
