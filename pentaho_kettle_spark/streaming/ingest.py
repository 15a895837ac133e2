"""Structured Streaming CDC ingest: readStream → foreachBatch(merge-apply).

This is the Spark-native replacement for Kettle's micro-batch streaming
framework (engine/.../trans/streaming/common/BaseStreamStep.java +
FixedTimeStreamWindow.java — processing-time buffers running a
sub-transformation per window, SURVEY §2.8). Differences, all upgrades:

  * offsets are checkpointed (`checkpointLocation` WAL) → resume-from-crash;
    the reference tracks no offsets in OSS core.
  * the per-window sub-transformation becomes the `foreachBatch` body — the
    same apply_batch stage chain the batch replayer uses (collapse → MERGE),
    so batch and streaming are one code path.
  * exactly-once effect: foreachBatch is at-least-once; idempotency comes
    from (a) the committed-batch manifest (epoch id recorded per commit) and
    (b) LWW on (ts, seq) making re-applies no-ops.
  * watermarking: LWW makes the sink order-insensitive, so no watermark is
    needed for correctness; `expire_tombstones` uses one as a *compaction*
    policy instead (SURVEY §2.8 table).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from pentaho_kettle_spark.cdc.changelog import read_changelog_stream
from pentaho_kettle_spark.cdc.replay import apply_batch
from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO


def start_cdc_ingest(
    spark: SparkSession,
    source_path: str,
    table: ParquetSnapshotTableIO,
    checkpoint_dir: str,
    query_name: str = "cdc-ingest",
    salted: bool | str = False,
    n_salts: int = 16,
    rename_hints: dict[str, str] | None = None,
    max_files_per_trigger: int | None = None,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start the ingest query. Caller drives it (processAllAvailable for
    tests / awaitTermination in production) and stops it.

    `salted="auto"` samples each micro-batch for hot (conv_id, turn_idx)
    keys and salts only those — the per-batch twin of replay's auto mode."""
    stream = read_changelog_stream(spark, source_path, max_files_per_trigger)

    def _apply(batch_df, epoch_id: int) -> None:
        use_salted, hot_keys = salted, None
        if salted == "auto":
            # same cost model as replay's auto mode: only pay the salted
            # plan's second exchange when a hot key would dominate a task
            from pentaho_kettle_spark.cdc.skew import skewed_keys

            hot_keys = skewed_keys(
                batch_df, table.key_cols,
                n_partitions=spark.sparkContext.defaultParallelism,
            )
            use_salted = hot_keys is not None
        apply_batch(
            table,
            batch_df.drop("ingest_ts"),
            batch_id=f"{query_name}-epoch-{epoch_id}",
            salted=use_salted,
            n_salts=n_salts,
            rename_hints=rename_hints,
            hot_keys=hot_keys,
        )

    writer = (
        stream.writeStream.queryName(query_name)
        .foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
