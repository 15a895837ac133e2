"""Warehouse upsert steps: SCD dimension lookup/update, combination lookup,
insert/update/delete (SURVEY §2.1) — set-oriented rewrites of Kettle's
row-at-a-time JDBC kernels, expressed over the snapshot TableIO.

Reference kernels: dimensionlookup/DimensionLookup.java (SCD Type 1/2 with
technical keys, version, date_from/date_to, punch-through),
combinationlookup/CombinationLookup.java (junk-dimension key management),
insertupdate/InsertUpdate.java, update/Update.java, delete/Delete.java.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

FAR_FUTURE = "9999-12-31 23:59:59"


def scd2_apply(
    dim: DataFrame | None,
    updates: DataFrame,
    natural_keys: list[str],
    tracked_cols: list[str],
    ts_col: str = "ts",
    tech_key: str = "tech_key",
    version_col: str = "version",
    date_from: str = "date_from",
    date_to: str = "date_to",
) -> DataFrame:
    """Slowly-changing-dimension Type 2: close the current version and open a
    new one when any tracked column changed; new natural keys start at
    version 1. Pure DataFrame algebra (one join + windows), replacing
    DimensionLookup.java's per-row lookup/insert/update round-trips.

    A version opens where the tracked columns, taken as one struct, differ
    null-safely (as in merge_rows.diff_rows) from the key's previous update
    and from its current dimension row, so a NULL moving between columns is
    a change. `dim=None` bootstraps the dimension from `updates`. Technical
    keys are `xxhash64(natural_keys, date_from)` — stable, distributed, no
    sequence bottleneck (the reference serialized on a DB sequence).
    """
    tracked = F.struct(*tracked_cols)
    changes = updates.select(*natural_keys, *tracked_cols, F.col(ts_col), tracked.alias("_t"))
    # collapse multiple updates per key: keep version-change points only
    w = Window.partitionBy(*natural_keys).orderBy(ts_col)
    changes = (
        changes.withColumn("_prev_t", F.lag("_t").over(w))
        .filter(~F.col("_t").eqNullSafe(F.col("_prev_t")))
        .drop("_prev_t")
    )

    if dim is not None:
        cur = dim.filter(F.col(date_to) == F.lit(FAR_FUTURE).cast("timestamp"))
        changes = (
            changes.join(cur.select(*natural_keys, tracked.alias("_cur_t")), natural_keys, "left")
            .filter(~F.col("_t").eqNullSafe(F.col("_cur_t")))
            .drop("_cur_t")
        )
        base_version = dim.groupBy(*natural_keys).agg(F.max(version_col).alias("_base_v"))
    else:
        base_version = None

    w2 = Window.partitionBy(*natural_keys).orderBy(ts_col)
    new_rows = (
        changes.withColumn("_vn", F.row_number().over(w2))
        .withColumn(date_from, F.col(ts_col))
        .withColumn(
            date_to,
            F.coalesce(
                F.lead(ts_col).over(w2), F.lit(FAR_FUTURE).cast("timestamp")
            ),
        )
    )
    if base_version is not None:
        new_rows = new_rows.join(base_version, on=natural_keys, how="left").withColumn(
            version_col, F.col("_vn") + F.coalesce(F.col("_base_v"), F.lit(0))
        ).drop("_base_v")
    else:
        new_rows = new_rows.withColumn(version_col, F.col("_vn"))
    new_rows = new_rows.withColumn(
        tech_key, F.xxhash64(*[F.col(c) for c in natural_keys], F.col(date_from))
    ).drop("_vn", "_t", ts_col)

    out_cols = [tech_key, *natural_keys, *tracked_cols, version_col, date_from, date_to]
    new_rows = new_rows.select(*out_cols)
    if dim is None:
        return new_rows

    # close previously-current rows that got a successor
    succ = new_rows.groupBy(*natural_keys).agg(F.min(date_from).alias("_succ_from"))
    dim2 = (
        dim.join(succ, on=natural_keys, how="left")
        .withColumn(
            date_to,
            F.when(
                (F.col(date_to) == F.lit(FAR_FUTURE).cast("timestamp"))
                & F.col("_succ_from").isNotNull(),
                F.col("_succ_from"),
            ).otherwise(F.col(date_to)),
        )
        .drop("_succ_from")
        .select(*out_cols)
    )
    return dim2.unionByName(new_rows)


def scd1_apply(
    dim: DataFrame | None,
    updates: DataFrame,
    natural_keys: list[str],
    tracked_cols: list[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Type 1 (punch-through / LWW): keep only the latest attribute values —
    the degenerate case our CDC LWW collapse implements; exposed for parity."""
    all_rows = updates if dim is None else dim.select(updates.columns).unionByName(updates)
    w = Window.partitionBy(*natural_keys).orderBy(F.col(ts_col).desc())
    return (
        all_rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def combination_lookup(
    df: DataFrame, natural_keys: list[str], tech_key: str = "tech_key"
) -> DataFrame:
    """Junk-dimension key: deterministic hash surrogate over the natural keys
    (CombinationLookup.java hashed then round-tripped the DB; a pure hash is
    collision-checked at 64-bit over realistic cardinalities and needs no
    coordination)."""
    return df.withColumn(tech_key, F.xxhash64(*[F.col(c) for c in natural_keys]))


def insert_update(
    target: DataFrame, incoming: DataFrame, keys: list[str], ts_col: str | None = None
) -> DataFrame:
    """insertupdate/InsertUpdate.java as pure DataFrame algebra (for table
    state, use tableio.merge_apply): new keys inserted, existing replaced."""
    kept = target.join(incoming.select(*keys), on=keys, how="left_anti")
    return kept.unionByName(incoming.select(target.columns))


def delete_rows(target: DataFrame, keys_df: DataFrame, keys: list[str]) -> DataFrame:
    """delete/Delete.java: anti-join on keys."""
    return target.join(keys_df.select(*keys), on=keys, how="left_anti")


def update_rows(
    target: DataFrame, incoming: DataFrame, keys: list[str]
) -> DataFrame:
    """update/Update.java — the standalone Update step: existing keys get
    the incoming values, keys ABSENT from the target are DISCARDED (unlike
    insert_update, which inserts them). One semi-join restricts incoming to
    known keys, one anti-join drops the replaced rows; both shuffle only on
    the key columns."""
    applied = incoming.join(target.select(*keys), on=keys, how="left_semi")
    kept = target.join(incoming.select(*keys), on=keys, how="left_anti")
    return kept.unionByName(applied.select(target.columns))
