"""Row-shaping steps: constants, value mapping, null handling, checksums,
sequences, sampling, cloning (SURVEY §2.2).

Reference kernels: constant/Constant.java, setvalueconstant/, valuemapper/
ValueMapper.java, numberrange/NumberRange.java, ifnull/IfNull.java,
nullif/NullIf.java, checksum/CheckSum.java, addsequence/AddSequence.java,
fieldschangesequence/FieldsChangeSequence.java, samplerows/SampleRows.java,
reservoirsampling/ReservoirSampling.java, clonerow/CloneRow.java.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pentaho_kettle_spark.types import cast_to_kettle_type


def add_constants(df: DataFrame, constants: dict[str, object]) -> DataFrame:
    for name, val in constants.items():
        df = df.withColumn(name, F.lit(val))
    return df


def set_field_value(df: DataFrame, field: str, value=None, from_field: str | None = None) -> DataFrame:
    """Set Value Field (`from_field`) or Set Value Constant (`value`). A
    constant keeps the type of the field it replaces, converted by
    types.cast_to_kettle_type."""
    if from_field:
        return df.withColumn(field, F.col(from_field))
    v = F.lit(value)
    if field in df.columns:
        v = cast_to_kettle_type(v, df.select(v).schema[0].dataType, df.schema[field].dataType)
    return df.withColumn(field, v)


def value_mapper(
    df: DataFrame,
    field: str,
    mapping: dict,
    default=None,
    out_field: str | None = None,
) -> DataFrame:
    """source→target literal map with optional non-match default.
    Compiles to a chained CASE WHEN (constant-folded by Catalyst)."""
    c = F.col(field)
    expr = None
    for src, tgt in mapping.items():
        cond = c.isNull() if src is None else (c == F.lit(src))
        expr = F.when(cond, F.lit(tgt)) if expr is None else expr.when(cond, F.lit(tgt))
    expr = expr.otherwise(F.lit(default) if default is not None else c)
    return df.withColumn(out_field or field, expr)


def number_range(
    df: DataFrame, field: str, out_field: str, ranges: list[tuple[float | None, float | None, str]],
    default: str = "unknown",
) -> DataFrame:
    """ranges: [(lower_incl_or_None, upper_excl_or_None, label)]."""
    c = F.col(field)
    expr = None
    for lo, hi, label in ranges:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (c >= lo)
        if hi is not None:
            cond = cond & (c < hi)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return df.withColumn(out_field, expr.otherwise(default))


def if_null(df: DataFrame, defaults: dict[str, object]) -> DataFrame:
    for field, d in defaults.items():
        df = df.withColumn(field, F.coalesce(F.col(field), F.lit(d)))
    return df


def null_if(df: DataFrame, field: str, value) -> DataFrame:
    return df.withColumn(field, F.nullif(F.col(field), F.lit(value)))


def add_checksum(
    df: DataFrame, fields: list[str], out_field: str = "checksum", algo: str = "sha256"
) -> DataFrame:
    """Checksum over selected fields (checksum/CheckSum.java, which
    concatenates string representations). NULLs are pinned to a sentinel so
    (NULL,'x') and ('x',NULL) differ."""
    joined = F.concat_ws(
        "\u0001", *[F.coalesce(F.col(f).cast("string"), F.lit("\u0000")) for f in fields]
    )
    algos = {
        "md5": F.md5,
        "sha1": F.sha1,
        "sha256": lambda c: F.sha2(c, 256),
        "crc32": F.crc32,
        "adler32": F.crc32,  # deviation: Spark has no adler32; crc32 stands in
        "xxhash64": F.xxhash64,
    }
    return df.withColumn(out_field, algos[algo](joined))


def add_sequence(
    df: DataFrame, out_field: str = "id", order_by: list[str] | None = None, start: int = 1
) -> DataFrame:
    """Counter field. With order_by: a global row_number (exact Kettle
    semantics, single-partition window — fine for small/medium results).
    Without: a distributed monotonic id (per-partition dense, globally unique,
    NOT consecutive) — the scale-safe default, matching what AddSequence
    guarantees across step copies (uniqueness, not density)."""
    if order_by:
        w = Window.orderBy(*[F.col(c) for c in order_by])
        return df.withColumn(out_field, F.row_number().over(w) + (start - 1))
    return df.withColumn(out_field, F.monotonically_increasing_id() + start)


def fields_change_sequence(
    df: DataFrame, key_fields: list[str], order_by: list[str], out_field: str = "seq", start: int = 1
) -> DataFrame:
    """Restart the counter whenever the key fields change (sorted semantics
    pinned with an explicit window order)."""
    w = Window.partitionBy(*key_fields).orderBy(*[F.col(c) for c in order_by])
    return df.withColumn(out_field, F.row_number().over(w) + (start - 1))


def sample_rows(df: DataFrame, ranges: list[tuple[int, int]], order_by: list[str]) -> DataFrame:
    """Keep rows by 1-based line-number ranges (inclusive), under an explicit
    order (Kettle used arrival order; Spark has no arrival order)."""
    w = Window.orderBy(*[F.col(c) for c in order_by])
    df = df.withColumn("_line", F.row_number().over(w))
    cond = None
    for lo, hi in ranges:
        c = (F.col("_line") >= lo) & (F.col("_line") <= hi)
        cond = c if cond is None else (cond | c)
    return df.filter(cond).drop("_line")


def reservoir_sampling(df: DataFrame, k: int, seed: int = 42) -> DataFrame:
    """Uniform k-sample without replacement: top-k by random key — one pass,
    TakeOrderedAndProject, no full sort (ReservoirSampling.java equivalent)."""
    return (
        df.withColumn("_r", F.rand(seed))
        .orderBy("_r")
        .limit(k)
        .drop("_r")
    )


def clone_row(df: DataFrame, n_clones: int, clone_num_field: str | None = None) -> DataFrame:
    """Duplicate each row (1 + n_clones) times; optional 0-based clone index.
    explode(sequence(...)) — no Python, no join."""
    idx = F.explode(F.sequence(F.lit(0), F.lit(n_clones)))
    if clone_num_field:
        return df.select("*", idx.alias(clone_num_field))
    return df.select("*", idx.alias("_c")).drop("_c")
