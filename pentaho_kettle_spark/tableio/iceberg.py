"""SQL for a real Iceberg table: the statements that would apply the
engine's table contract through Iceberg's own MERGE and DDL.

No Iceberg runtime jar ships with the engine (SURVEY §7), so these are
pure string builders, pinned by tests/test_iceberg_sql.py. They state the
same collapsed-changes contract ParquetSnapshotTableIO implements (one row
per key, `op` ∈ {U, D}, `_seq`), applied with one atomic `MERGE INTO`, and
run on a session built with Iceberg's extensions and catalog, e.g.
    SparkSession.builder
      .config("spark.sql.extensions",
              "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
      .config("spark.sql.catalog.lake", "org.apache.iceberg.spark.SparkCatalog")
      .config("spark.sql.catalog.lake.type", "hadoop")
      .config("spark.sql.catalog.lake.warehouse", "<path>")
"""

from __future__ import annotations


def merge_sql(
    table: str,
    source_view: str,
    key_cols: list[str],
    data_cols: list[str],
    lww_col: str = "ts",
) -> str:
    """MERGE INTO with LWW guard: an incoming row only overwrites when its
    (lww, _seq) stamp is strictly newer — identical semantics to
    ParquetSnapshotTableIO.merge_apply (tombstones become real DELETEs here;
    Iceberg's snapshot isolation plays the manifest's role)."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    sets = ", ".join(f"t.{c} = s.{c}" for c in data_cols + ["_seq"])
    ins_cols = ", ".join(key_cols + data_cols + ["_seq"])
    ins_vals = ", ".join(f"s.{c}" for c in key_cols + data_cols + ["_seq"])
    newer = f"(s.{lww_col} > t.{lww_col} OR (s.{lww_col} = t.{lww_col} AND s._seq > t._seq))"
    return f"""
        MERGE INTO {table} t
        USING {source_view} s
        ON {on}
        WHEN MATCHED AND s.op = 'D' AND {newer} THEN DELETE
        WHEN MATCHED AND s.op <> 'D' AND {newer} THEN UPDATE SET {sets}
        WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT ({ins_cols}) VALUES ({ins_vals})
    """


def create_table_sql(
    table: str, data_cols_ddl: str, key_col: str, n_buckets: int = 64
) -> str:
    return (
        f"CREATE TABLE IF NOT EXISTS {table} ({data_cols_ddl}, _seq BIGINT) "
        f"USING iceberg PARTITIONED BY (bucket({n_buckets}, {key_col})) "
        "TBLPROPERTIES ('write.merge.mode'='copy-on-write', 'format-version'='2')"
    )


def evolve_sql(table: str, action: dict) -> str:
    """One schema-evolution action → its ALTER TABLE statement (same action
    dicts ParquetSnapshotTableIO.evolve_schema takes — add/rename/widen)."""
    kind = action["action"]
    if kind == "add":
        return f"ALTER TABLE {table} ADD COLUMN {action['name']} {action['type']}"
    if kind == "rename":
        return f"ALTER TABLE {table} RENAME COLUMN {action['from']} TO {action['to']}"
    if kind == "widen":
        return f"ALTER TABLE {table} ALTER COLUMN {action['name']} TYPE {action['type']}"
    raise ValueError(f"unknown schema action {kind!r}")
