"""File readers/writers (SURVEY §2.1).

Reference kernels: csvinput/CsvInput.java, textfileinput/TextFileInput.java,
fixedinput/FixedInput.java, textfileoutput/TextFileOutput.java,
kettle-json-plugin JsonInput.java, cubeinput/CubeInput.java (Kettle's own
gzip row format → parquet is our native format).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pentaho_kettle_spark.types import cast_to_kettle_type


def csv_input(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    delimiter: str = ",",
    enclosure: str = '"',
    escape: str = "\\",
) -> DataFrame:
    reader = (
        spark.read.option("header", header)
        .option("sep", delimiter)
        .option("quote", enclosure)
        .option("escape", escape)
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)  # dev only; prod passes schema
    return reader.csv(path)


def text_file_input(
    spark: SparkSession,
    paths: str | list[str],
    add_filename: bool = True,
    line_field: str = "line",
    skip_header_lines: int = 0,
    filter_regex: str | None = None,
) -> DataFrame:
    """Raw-line reader with wildcard/multi-file + regex row filters.
    gzip/zip decompression is transparent in Spark's text source (gzip);
    header/footer skipping needs an order — we expose header skip per file
    via a window on a per-file line number."""
    df = spark.read.text(paths if isinstance(paths, str) else list(paths))
    df = df.withColumnRenamed("value", line_field)
    if add_filename or skip_header_lines:
        df = df.withColumn("filename", F.input_file_name())
    if skip_header_lines:
        from pyspark.sql import Window

        w = Window.partitionBy("filename").orderBy(F.monotonically_increasing_id())
        df = (
            df.withColumn("_ln", F.row_number().over(w))
            .filter(F.col("_ln") > skip_header_lines)
            .drop("_ln")
        )
    if filter_regex:
        df = df.filter(F.col(line_field).rlike(filter_regex))
    if not add_filename and "filename" in df.columns:
        df = df.drop("filename")
    return df


def resolve_file_specs(
    specs: list[tuple[str, str | None]], required: bool = True
) -> list[str]:
    """Kettle <file><name>/<filemask> pairs → concrete paths. A filemask is
    a Java REGEX over the file names inside directory `name` (reference
    core/.../fileinput/FileInputList.java createFileList); an empty mask
    means `name` IS the path (Spark glob characters pass through). Resolved
    driver-side — a directory listing is a metadata operation, the same
    cost class as the reference's VFS listing; on an object store the
    equivalent is the FileSystem.globStatus call Spark itself issues."""
    import os as _os
    import re as _re

    out: list[str] = []
    for name, mask in specs:
        if mask:
            if not _os.path.isdir(name):
                raise ValueError(
                    f"TextFileInput: filemask {mask!r} requires directory "
                    f"{name!r} to exist"
                )
            rx = _re.compile(mask)
            out.extend(
                sorted(
                    _os.path.join(name, fn)
                    for fn in _os.listdir(name)
                    if rx.fullmatch(fn)
                )
            )
        elif name:
            out.append(name)
    if required and not out:
        raise ValueError(f"no files matched {specs!r}")
    return out


def text_file_input_csv(
    spark: SparkSession,
    paths: list[str],
    schema: T.StructType,
    header: bool = True,
    nr_header_lines: int | None = None,
    nr_footer_lines: int = 0,
    delimiter: str = ";",
    enclosure: str = '"',
) -> DataFrame:
    """TextFileInput with filetype=CSV (textfileinput/TextFileInput.java):
    wildcard multi-file, transparent gzip (Spark's text/csv sources
    decompress by extension), header AND footer skipping.

    Fast path (no footer, ≤1 header line): the native csv reader — schema
    projection + filter pushdown + whole-stage codegen all apply. Footer or
    multi-line-header files take the line path: per-file line numbering +
    from_csv, still fully distributed (one window per file; gzip files are
    single-split so the per-file ordering is exact)."""
    nh = (1 if header else 0) if nr_header_lines is None else nr_header_lines
    if nr_footer_lines == 0 and nh <= 1:
        return (
            spark.read.option("header", nh == 1)
            .option("sep", delimiter)
            .option("quote", enclosure)
            .schema(schema)
            .csv(list(paths))
        )
    from pyspark.sql import Window

    df = spark.read.text(list(paths)).withColumn("_f", F.input_file_name())
    wf = Window.partitionBy("_f")
    w = wf.orderBy(F.monotonically_increasing_id())
    df = (
        df.withColumn("_ln", F.row_number().over(w))
        .withColumn("_nl", F.count(F.lit(1)).over(wf))
        .filter(
            (F.col("_ln") > nh)
            & (F.col("_ln") <= F.col("_nl") - nr_footer_lines)
        )
    )
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    parsed = F.from_csv(
        F.col("value"), F.lit(ddl), {"sep": delimiter, "quote": enclosure}
    )
    return df.select(parsed.alias("_r")).select("_r.*")


def json_lines_input(
    spark: SparkSession,
    paths: list[str],
    fields: list[tuple[str, str, str]],
) -> DataFrame:
    """JsonInput over files (kettle-json-plugin JsonInput.java): each line
    is a JSON document; fields = [(out_name, json_path, kettle_type)]
    extract via get_json_object (JVM-side JSONPath subset) and cast to the
    declared Kettle type. Gzip transparent; wildcard/multi-file via the
    same file-spec resolution as TextFileInput."""
    df = spark.read.text(list(paths))
    return df.select(
        *(
            cast_to_kettle_type(
                F.get_json_object(F.col("value"), jpath), T.StringType(), ktype
            ).alias(name)
            for name, jpath, ktype in fields
        )
    )


def fixed_input(
    spark: SparkSession, path: str, fields: list[tuple[str, int, int, str]]
) -> DataFrame:
    """Fixed-width: fields = [(name, start_0based, length, kettle_type)].
    One substring projection per field over the raw line — fully parallel,
    like FixedInput.java's NIO chunk reader but without the hand-rolled
    splitting."""
    df = spark.read.text(path)
    cols = [
        cast_to_kettle_type(
            F.trim(F.substring(F.col("value"), start + 1, length)),
            T.StringType(),
            ktype,
        ).alias(name)
        for name, start, length, ktype in fields
    ]
    return df.select(*cols)


def json_input(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    multiline: bool = False,
) -> DataFrame:
    reader = spark.read.option("multiLine", multiline)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def json_path_fields(df: DataFrame, source_field: str, fields: dict[str, str]) -> DataFrame:
    """JsonInput's JSONPath extraction over an embedded JSON string column:
    fields = {out_name: json_path ('$.a.b')} → get_json_object per field."""
    for out, jpath in fields.items():
        df = df.withColumn(out, F.get_json_object(F.col(source_field), jpath))
    return df


# local path -> (identity of the files under it, the schema Spark inferred),
# the most recently inferred _PARQUET_SCHEMAS_MAX paths
_PARQUET_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}
_PARQUET_SCHEMAS_MAX = 256
_PARQUET_SCHEMAS_LOCK = threading.Lock()


def _local_files(path: str) -> tuple | None:
    """(path, size, mtime_ns) of every file under a local `path`, walked on
    the driver and sorted; None for a URI, a glob, or a path with no file
    (missing or empty) — those read as Spark alone decides."""
    if ":" in path.split("/", 1)[0] or any(c in path for c in "*?[]{}"):
        return None
    try:
        if os.path.isfile(path):
            files = [path]
        else:
            files = [os.path.join(d, n) for d, _, names in os.walk(path) for n in names]
        out = []
        for f in files:
            st = os.stat(f)
            out.append((f, st.st_size, st.st_mtime_ns))
    except OSError:  # a file removed mid-walk
        return None
    return tuple(sorted(out)) or None


def parquet_input(spark: SparkSession, path: str) -> DataFrame:
    """Cube input equivalent — parquet is this engine's native row format.

    A bare `spark.read.parquet` infers the schema from the footers in a
    Spark job every time a query is built. The schema Spark inferred is
    kept per local path, keyed by the path, size and mtime of every file
    under it; while those are unchanged the read passes it back, so the
    build runs no job. A rewritten, added or removed file changes the key
    and the schema is inferred again; a missing or empty path, a URI and a
    glob always infer, so they fail or resolve exactly as Spark's reader
    does. The stored schema is Spark's own inference, under the session's
    parquet settings at the time it was inferred."""
    # taken before the inference: a file rewritten in between leaves a key
    # that no longer matches, which costs one more inference, never a stale
    # schema
    ident = _local_files(path)
    hit = _PARQUET_SCHEMAS.get(path) if ident else None
    if hit and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if ident:
        schema = df.schema
        with _PARQUET_SCHEMAS_LOCK:
            _PARQUET_SCHEMAS.pop(path, None)
            if len(_PARQUET_SCHEMAS) >= _PARQUET_SCHEMAS_MAX:
                del _PARQUET_SCHEMAS[next(iter(_PARQUET_SCHEMAS))]
            _PARQUET_SCHEMAS[path] = (ident, schema)
    return df


def csv_output(
    df: DataFrame,
    path: str,
    header: bool = True,
    delimiter: str = ",",
    compression: str | None = None,
    single_file: bool = False,
    mode: str = "overwrite",
) -> None:
    """TextFileOutput: delimited write. `single_file` coalesces to one task —
    only for small exports; distributed multi-part is the scale default."""
    out = df.coalesce(1) if single_file else df
    w = out.write.mode(mode).option("header", header).option("sep", delimiter)
    if compression:
        w = w.option("compression", compression)
    w.csv(path)
