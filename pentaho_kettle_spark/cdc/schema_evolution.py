"""Automatic schema evolution: diff an incoming batch against the table,
issue add/rename/widen actions BEFORE the merge, then conform the batch.

Mirrors Iceberg's evolution rules (add / rename-by-id / legal widen only).
Rename cannot be inferred from data alone (add+drop is indistinguishable), so
renames ride an explicit hint map — in a real deployment the hints come from
the upstream DDL events in the binlog (Debezium schema-change topic).

Reference parity: Kettle recomputes layouts per step via
TransMeta#getStepFields / StepMetaInterface#getFields (SURVEY §1.3) but has no
notion of evolving a *target table* — TableOutput simply fails on drift. This
module is the Spark-first upgrade the north_rule mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pentaho_kettle_spark.tableio.parquet_snapshot import (
    ParquetSnapshotTableIO,
    TableSchema,
    _WIDEN_OK,
    _conform_cols,
)

# columns of the changelog envelope, never part of the table schema
ENVELOPE_COLS = {"seq", "op", "ingest_ts", "_seq"}


def plan_evolution(
    table_schema: TableSchema,
    batch: DataFrame,
    rename_hints: dict[str, str] | None = None,
) -> list[dict]:
    """Compute evolve actions to bring the table schema up to the batch's."""
    rename_hints = rename_hints or {}
    actions: list[dict] = []
    tbl = {f["name"]: f["type"] for f in table_schema.fields}
    # apply pending renames first so add-detection sees post-rename names
    for old, new in rename_hints.items():
        if old in tbl and new not in tbl:
            actions.append({"action": "rename", "from": old, "to": new})
            tbl[new] = tbl.pop(old)
    for f in batch.schema.fields:
        if f.name in ENVELOPE_COLS:
            continue
        t = f.dataType.simpleString()
        if f.name not in tbl:
            actions.append({"action": "add", "name": f.name, "type": t})
        elif tbl[f.name] != t and (tbl[f.name], t) in _WIDEN_OK:
            actions.append({"action": "widen", "name": f.name, "type": t})
    return actions


def evolve_and_conform(
    table: ParquetSnapshotTableIO,
    batch: DataFrame,
    rename_hints: dict[str, str] | None = None,
) -> DataFrame:
    """Evolve the table to accept `batch`, then project the batch onto the
    (possibly new) table schema: rename per hints, cast to the table's
    (possibly widened) types and null-fill missing columns — the same
    projection merge_apply makes (`_conform_cols`), so a batch missing a
    key or the LWW column raises by name here on every apply path."""
    schema = table.schema()
    actions = plan_evolution(schema, batch, rename_hints)
    if actions:
        schema = table.evolve_schema(actions)
    for old, new in (rename_hints or {}).items():
        if old in batch.columns and new not in batch.columns:
            batch = batch.withColumnRenamed(old, new)
    cols = _conform_cols(batch.columns, schema.fields, table.key_cols, table.lww_col)
    return batch.select(*cols, *[F.col(env) for env in ("seq", "op") if env in batch.columns])
