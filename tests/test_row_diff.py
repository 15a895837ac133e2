"""One keyed row diff (operators/merge_rows.diff_rows) under Merge Rows,
Table Compare, SCD2 and the table's changes feed: rows are compared as one
struct with null-safe equality, so a NULL moving between value columns is a
change on every path (a row hash skips NULL inputs and would call it equal)."""

from __future__ import annotations

import datetime as dt

import pytest

from pentaho_kettle_spark import operators as ops
from pentaho_kettle_spark.cdc.replay import apply_batch
from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

ROW = "k int, a string, b string"


def test_merge_rows_and_table_compare_flag_a_moved_null_changed(spark):
    ref = spark.createDataFrame(
        [(1, None, "x"), (2, "a", "b"), (3, "z", None), (5, None, None)], ROW
    )
    cmp = spark.createDataFrame(
        [(1, "x", None), (2, "a", "b"), (4, "n", None), (5, None, None)], ROW
    )
    got = {(r.k, r.a, r.b, r.flagfield) for r in ops.merge_rows_diff(ref, cmp, ["k"]).collect()}
    assert got == {
        (1, "x", None, "changed"),
        (2, "a", "b", "identical"),
        (3, "z", None, "deleted"),
        (4, "n", None, "new"),
        (5, None, None, "identical"),
    }
    tc = {r.k: r.flagfield for r in ops.table_compare(ref, cmp, ["k"]).collect()}
    assert tc == {1: "changed", 3: "deleted", 4: "new"}


def test_diff_rows_columns(spark):
    old = spark.createDataFrame([(1, None, "x")], ROW)
    new = spark.createDataFrame([(1, "x", None)], ROW)
    d = ops.diff_rows(old, new, ["k"], ["a", "b"])
    assert d.columns == ["k", "_old", "_new", "_flag"]
    r = d.first()
    assert (tuple(r._old), tuple(r._new), r._flag) == ((None, "x"), ("x", None), "changed")


def test_scd2_opens_a_version_when_a_null_moves(spark):
    sch = "k string, a string, b string, ts timestamp"
    t = [dt.datetime(2026, 1, d) for d in (1, 2, 3)]
    # within one update batch: each NULL move is a version change point
    ups = spark.createDataFrame(
        [("u1", None, "x", t[0]), ("u1", "x", None, t[1]), ("u1", "x", None, t[2])], sch
    )
    dim = ops.scd2_apply(None, ups, ["k"], ["a", "b"])
    assert sorted((r.version, r.a, r.b) for r in dim.collect()) == [
        (1, None, "x"), (2, "x", None),
    ]
    # against the current dimension row: moving back opens version 3 and
    # closes version 2; an identical update opens nothing
    feb = dt.datetime(2026, 2, 1)
    back = spark.createDataFrame([("u1", None, "x", feb)], sch)
    dim2 = {r.version: r for r in ops.scd2_apply(dim, back, ["k"], ["a", "b"]).collect()}
    assert sorted(dim2) == [1, 2, 3]
    assert (dim2[3].a, dim2[3].b, dim2[2].date_to) == (None, "x", feb)
    same = spark.createDataFrame([("u1", "x", None, feb)], sch)
    assert ops.scd2_apply(dim, same, ["k"], ["a", "b"]).count() == 2


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_changes_feed_reports_a_moved_null_as_an_update(spark, tmp_path, mode):
    t = ParquetSnapshotTableIO(
        spark, str(tmp_path / "t"), key_cols=("k",), lww_col="ts", n_buckets=4,
        write_mode=mode,
    )
    t.init_empty(spark.createDataFrame([], "k int, a string, b string, ts long").schema)
    sch = "k int, a string, b string, ts long, seq long, op string"
    apply_batch(t, spark.createDataFrame([(1, None, "x", 1, 1, "U")], sch), batch_id="b1")
    first = t.snapshot_id()
    apply_batch(t, spark.createDataFrame([(1, "x", None, 1, 2, "U")], sch), batch_id="b2")
    net = [(r.k, r.a, r.b, r._change_type) for r in t.read_changes(first).collect()]
    assert net == [(1, "x", None, "update")]
    cdf = {(r.a, r.b, r._change_type) for r in t.read_changes(first, images="cdf").collect()}
    assert cdf == {(None, "x", "update_preimage"), ("x", None, "update_postimage")}
