"""Merge Rows (diff) + Table Compare — snapshot diffing → change flags.

Reference: mergerows/MergeRows.java (SURVEY §2.3): compare a *reference*
stream against a *compare* stream on keys, emit every row flagged
{identical, changed, new, deleted}. This is the change-DETECTION half of
Kettle's CDC story (Synchronize After Merge applies the flags — our
tableio.merge_apply). The sorted-input requirement is gone: `diff_rows`
gives the same flags from one full outer join, comparing each side's
value columns as one struct with null-safe equality (`<=>`), so a NULL
moving between columns is a change. The table's changes feed
(ParquetSnapshotTableIO.read_changes) runs the same function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def diff_rows(
    old: DataFrame, new: DataFrame, keys: list[str], value_cols: list[str]
) -> DataFrame:
    """The keyed diff of two states: one full outer join on `keys`.

    Output columns: keys, `_old` and `_new` (the side's `value_cols` as one
    struct, NULL where the key is absent on that side) and `_flag`: new
    (only in `new`), deleted (only in `old`), identical (both, the structs
    equal null-safely) or changed. A row hash would not do: xxhash64 skips
    NULL inputs, so (NULL, 'x') and ('x', NULL) would hash alike."""
    o = old.select(*keys, F.struct(*value_cols).alias("_old"))
    n = new.select(*keys, F.struct(*value_cols).alias("_new"))
    flag = (
        F.when(F.col("_old").isNull(), "new")
        .when(F.col("_new").isNull(), "deleted")
        .when(F.col("_old").eqNullSafe(F.col("_new")), "identical")
        .otherwise("changed")
    )
    return o.join(n, on=list(keys), how="full").withColumn("_flag", flag)


def merge_rows_diff(
    reference: DataFrame,
    compare: DataFrame,
    keys: list[str],
    value_cols: list[str] | None = None,
    flag_field: str = "flagfield",
) -> DataFrame:
    """Rows keyed like `compare` (the new state) flagged vs `reference` (the
    old state): new (only in compare), deleted (only in reference, payload
    from reference), changed (both, values differ), identical.

    Output columns: keys + value_cols + flag_field.
    """
    value_cols = value_cols or [c for c in compare.columns if c not in keys]
    row = F.coalesce(F.col("_new"), F.col("_old"))
    return diff_rows(reference, compare, keys, value_cols).select(
        *keys, *[row[v].alias(v) for v in value_cols], F.col("_flag").alias(flag_field)
    )


def diff_to_changelog(
    diff: DataFrame,
    flag_field: str = "flagfield",
    ts_col: str = "ts",
) -> DataFrame:
    """Bridge Merge Rows output to the CDC changelog op column:
    new→I, changed→U, deleted→D, identical dropped — exactly what
    Synchronize After Merge consumed (synchronizeaftermerge/
    SynchronizeAfterMerge.java reads the flag field to route its
    INSERT/UPDATE/DELETE batches)."""
    return (
        diff.filter(F.col(flag_field) != "identical")
        .withColumn(
            "op",
            F.when(F.col(flag_field) == "new", "I")
            .when(F.col(flag_field) == "changed", "U")
            .otherwise("D"),
        )
        .drop(flag_field)
    )


def table_compare(
    left: DataFrame, right: DataFrame, keys: list[str], value_cols: list[str] | None = None
) -> DataFrame:
    """tablecompare/TableCompare.java: same as merge_rows_diff but reporting
    only the non-identical rows (the error/diff stream)."""
    d = merge_rows_diff(left, right, keys, value_cols)
    return d.filter(F.col("flagfield") != "identical")
