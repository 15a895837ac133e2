"""The registry's table-backed rows (the rows that stage files or a table in
a `_scratch` directory: CDC replays, streaming ingest, file round trips)
against their DuckDB oracle at sf0.01, compared the way
tools/check_oracle.py compares them. Also: `_scratch` removes its directory
whether its body returns or raises, and every row removes the scratch
directory it made. The expression-step rows (Formula, ScriptValuesMod and
the scripting chain, compiled by plans/exprcore.py) make no scratch
directory and get their own list and oracle test."""

from __future__ import annotations

import os
import tempfile

import pytest

import __spark_entry__ as entry
from tests.conftest import SF01_DIR
from tools.check_oracle import TABLES, compare

_real_mkdtemp = tempfile.mkdtemp

TABLE_ROWS = [
    "cdc_branch_wap", "cdc_checkpoint_resume", "cdc_delete_where",
    "cdc_follow_tail", "cdc_incremental_agg", "cdc_incremental_read",
    "cdc_lineage_metrics", "cdc_merge_apply", "cdc_optimize_maintenance",
    "cdc_patch_upsert", "cdc_point_lookup", "cdc_rebucket", "cdc_recent_scan",
    "cdc_rollback_replay", "cdc_schema_evolution", "cdc_time_travel",
    "cdc_type_widen", "csv_roundtrip", "cube_roundtrip", "fixed_width_input",
    "ktr_json_input", "ktr_textfile_gz", "streaming_cdc_ingest",
    "streaming_stateful_dedup", "text_file_lines",
]

EXPRESSION_ROWS = ["formula_step", "ktr_js_script", "scripting_chain"]


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF01_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", TABLE_ROWS)
def test_table_backed_row_matches_oracle(spark, duck, name, monkeypatch):
    made = []

    def mkdtemp(*args, **kwargs):
        made.append(_real_mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    got = entry.queries()[name](spark, SF01_DIR).toPandas()
    assert made and not any(os.path.exists(d) for d in made), made
    want = duck.sql(entry.oracle_sql()[name]).df()
    assert compare(got, want) == []


@pytest.mark.parametrize("name", EXPRESSION_ROWS)
def test_expression_step_row_matches_oracle(spark, duck, name):
    got = entry.queries()[name](spark, SF01_DIR).toPandas()
    want = duck.sql(entry.oracle_sql()[name]).df()
    assert compare(got, want) == []


def test_scratch_removes_its_dir_on_return_and_on_raise():
    with entry._scratch("pks_test_") as root:
        with open(os.path.join(root, "f"), "w") as fh:
            fh.write("x")
    assert not os.path.exists(root)
    with pytest.raises(RuntimeError, match="body failed"):
        with entry._scratch("pks_test_") as root:
            os.makedirs(os.path.join(root, "sub"))
            raise RuntimeError("body failed")
    assert not os.path.exists(root)
