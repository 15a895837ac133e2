"""Generator sources (SURVEY §2.1): datagrid/DataGrid.java,
rowgenerator/RowGenerator.java, systemdata/SystemData.java,
randomvalue/RandomValue.java, getfilenames/, getfilesrowscount/.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def data_grid(spark: SparkSession, rows: list[tuple], schema: str | T.StructType) -> DataFrame:
    """Inline constant table."""
    return spark.createDataFrame(rows, schema)


def row_generator(
    spark: SparkSession, n: int, constants: dict[str, object] | None = None,
    rownum_field: str | None = None,
) -> DataFrame:
    """N copies of a constant row — spark.range is a parallel, splittable
    source (RowGenerator.java loops single-threaded). Streaming clock-source
    mode → spark.readStream.format('rate') in streaming/."""
    df = spark.range(n)
    for name, val in (constants or {}).items():
        df = df.withColumn(name, F.lit(val))
    if rownum_field:
        df = df.withColumn(rownum_field, F.col("id") + 1)
    return df.drop("id") if rownum_field != "id" else df


def get_system_data(spark: SparkSession, fields: dict[str, str]) -> DataFrame:
    """fields = {out_name: kind}; kinds: system_date, hostname, spark_version,
    app_id, app_name. (Kettle: sysdate, trans name, hostname, args...)"""
    import socket

    exprs = []
    for name, kind in fields.items():
        if kind == "system_date":
            exprs.append(F.current_timestamp().alias(name))
        elif kind == "hostname":
            exprs.append(F.lit(socket.gethostname()).alias(name))
        elif kind == "spark_version":
            exprs.append(F.lit(spark.version).alias(name))
        elif kind == "app_id":
            exprs.append(F.lit(spark.sparkContext.applicationId).alias(name))
        elif kind == "app_name":
            exprs.append(F.lit(spark.sparkContext.appName).alias(name))
        else:
            raise ValueError(kind)
    return spark.range(1).select(*exprs)


def random_value(
    df: DataFrame, fields: dict[str, str], seed: int = 42
) -> DataFrame:
    """fields = {out_name: kind}; kinds: number (U[0,1)), gaussian, integer,
    uuid. Seeded → deterministic re-runs (RandomValue.java used an unseeded
    java.util.Random; determinism is an upgrade our tests rely on)."""
    i = 0
    for name, kind in fields.items():
        if kind == "number":
            df = df.withColumn(name, F.rand(seed + i))
        elif kind == "gaussian":
            df = df.withColumn(name, F.randn(seed + i))
        elif kind == "integer":
            df = df.withColumn(name, (F.rand(seed + i) * (2**31)).cast("long"))
        elif kind == "uuid":
            df = df.withColumn(name, F.expr("uuid()"))
        else:
            raise ValueError(kind)
        i += 1
    return df


def get_filenames(
    spark: SparkSession, directory: str, pattern: str | None = None, recursive: bool = False
) -> DataFrame:
    """Filesystem catalog scan → rows (driver-side listing, distributed
    downstream). Columns mirror GetFileNames' core output."""
    import fnmatch

    rows = []
    if recursive:
        walker = os.walk(directory)
    else:
        walker = [(directory, [], [f for f in os.listdir(directory)
                                   if os.path.isfile(os.path.join(directory, f))])]
    for dirpath, _dirs, files in walker:
        for fn in files:
            if pattern and not fnmatch.fnmatch(fn, pattern):
                continue
            full = os.path.join(dirpath, fn)
            st = os.stat(full)
            rows.append((full, fn, dirpath, int(st.st_size)))
    schema = "filename string, short_filename string, path string, size long"
    return spark.createDataFrame(rows, schema)


def get_files_rows_count(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """getfilesrowscount/: per-file row counts — metadata-only for parquet."""
    if fmt == "parquet":
        import glob as _glob

        import pyarrow.parquet as pq

        files = sorted(_glob.glob(os.path.join(path, "*.parquet"))) or [path]
        rows = [(f, pq.ParquetFile(f).metadata.num_rows) for f in files]
        return spark.createDataFrame(rows, "filename string, rows long")
    df = spark.read.text(path).withColumn("filename", F.input_file_name())
    return df.groupBy("filename").agg(F.count(F.lit(1)).alias("rows"))
