"""Select Values — select/reorder/rename, remove, change metadata.

Reference: engine/.../trans/steps/selectvalues/SelectValues.java +
SelectValuesMeta.java#getFields (SURVEY §2.2). The three tabs of the Kettle
dialog map to the three arguments; all of it compiles to a single Catalyst
Project node, so column pruning reaches the scan for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pentaho_kettle_spark.types import cast_to_kettle_type


def select_values(
    df: DataFrame,
    select: list[tuple[str, str | None]] | None = None,
    remove: list[str] | None = None,
    meta: list[dict] | None = None,
) -> DataFrame:
    """select: [(field, rename_or_None)] — projects in order, renames.
    remove: fields to drop (applied after select).
    meta: [{"name", "type"?, "mask"?, "rename"?}] — retype/reformat in place.
    """
    if select:
        df = df.select([F.col(c).alias(r or c) for c, r in select])
    if remove:
        df = df.drop(*remove)
    for m in meta or []:
        col = F.col(m["name"])
        if m.get("type"):
            col = cast_to_kettle_type(
                col, df.schema[m["name"]].dataType, m["type"], m.get("mask")
            )
        df = df.withColumn(m["name"], col)
        if m.get("rename"):
            df = df.withColumnRenamed(m["name"], m["rename"])
    return df
