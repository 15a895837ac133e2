"""Change-log source: schema + readers (batch parquet, streaming file source).

The change log is the binlog/WAL analog of Kettle's Merge Rows (diff) output
stream (mergerows/MergeRows.java flags {identical,changed,new,deleted} →
here ops {I,U,D}, SURVEY §2.4 / §1.4): an ordered stream of change events
with a globally monotonic `seq`, full after-images for I/U, keys-only for D.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("ingest_ts", T.TimestampType(), True),
    ]
)


def parquet_row_groups(df: DataFrame, columns: list[str]) -> list[tuple] | None:
    """Every row group behind a plain parquet scan, from the footers read on
    the driver (no Spark job): (path, row-group index, row count,
    {column: column-chunk metadata}) for each of `columns`. None when the
    plan is not file-backed, a file is not parquet, pyarrow is missing, a
    footer is unreadable, or a file lacks one of `columns` physically."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 - non-file-backed plans
        return None
    if not files or not all(f.endswith(".parquet") for f in files):
        return None
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    groups = []
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:  # noqa: BLE001 - unreadable file
            return None
        names = md.schema.names
        if any(c not in names for c in columns):
            return None
        idx = {c: names.index(c) for c in columns}
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            groups.append((path, i, rg.num_rows, {c: rg.column(j) for c, j in idx.items()}))
    return groups


def read_changelog(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of a parquet change log. Schema is asserted, not inferred."""
    return spark.read.schema(CHANGELOG_SCHEMA).parquet(path)


def read_changelog_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Structured Streaming file source over a changelog directory.

    At production scale this would be Kafka (`format("kafka")` + from_json of
    the Debezium-style envelope); the file source exercises the identical
    downstream pipeline — checkpointed offsets, foreachBatch apply — and is
    what the sandbox supports.
    """
    reader = spark.readStream.schema(CHANGELOG_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)
