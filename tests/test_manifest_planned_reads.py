"""Table reads planned from the manifest: building a read runs no Spark job
(no footer schema inference, no listing job, no bucket-id job), the
driver-side bucket hash equals the writer's, and every read and merge works
in the bucket layout of the one manifest it planned from — also when
another handle rebucketed the table meanwhile. (The rename + widen + add
replay against the pandas oracle is test_schema_evolution's
test_add_rename_widen_mid_log.)"""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow.parquet as pq
import pyspark.sql.types as T
import pytest
from pyspark.errors import AnalysisException

from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA
from pentaho_kettle_spark.cdc.replay import replay_changelog
from pentaho_kettle_spark.fixtures import gen_changelog, pandas_oracle_apply
from pentaho_kettle_spark.tableio.parquet_snapshot import (
    ParquetSnapshotTableIO,
    _driver_bucket,
    bucket_expr,
)
from tests.conftest import assert_df_equals_pandas

SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])
CHG = "conv_id string, turn_idx int, text string, ts timestamp, op string, _seq long"
T0 = dt.datetime(2026, 1, 1)


def _jobs(spark, fn):
    """(fn(), ids of the Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(keys, batch, text="v"):
    return [(k, 0, f"{text}{batch}", T0 + dt.timedelta(seconds=batch), "U", batch * 1000 + i)
            for i, k in enumerate(keys)]


def _mor(spark, root, n_buckets=8):
    return ParquetSnapshotTableIO(spark, root, n_buckets=n_buckets, write_mode="mor",
                                  compact_delta_files=None)


def test_building_a_read_runs_no_spark_job(spark, tmp_path):
    t = _mor(spark, str(tmp_path / "t"))
    t.init_empty(SCHEMA)
    keys = [f"c{i}" for i in range(40)]
    for batch in range(6):
        t.merge_apply(spark.createDataFrame(_rows(keys, batch), CHG), f"b{batch}")
    m = t.current_manifest()
    assert sum(len(es) for es in m["files"].values()) >= 40
    first = m["snapshot_id"] - 3

    for build in (t.read, lambda: t.read_key("c7"), lambda: t.read_changes(first)):
        df, built = _jobs(spark, build)
        assert built == []
        _, ran = _jobs(spark, df.collect)  # the probe does see jobs
        assert ran
    assert {r.text for r in t.read_key("c7").collect()} == {"v5"}


@pytest.mark.parametrize("key_type, values", [
    ("string", ["", "a", "é", "日本語", "x" * 31, "y" * 32, "z" * 33,
                *("k" * n + "🙂" for n in range(0, 80, 7)), *(f"c{i}" for i in range(60))]),
    ("int", [*range(40), -1, 2**31 - 1, -2**31]),
    ("bigint", [*range(40), -1, 2**63 - 1, -2**63, 2**40]),
    ("smallint", [0, 7, -7, 2**15 - 1, -2**15]),
    ("tinyint", [0, 7, -7, 127, -128]),
])
def test_driver_bucket_equals_bucket_expr(spark, key_type, values):
    df = spark.createDataFrame([(v,) for v in values], f"k {key_type}")
    for n in (8, 7, 4096):
        want = [r[0] for r in df.select(bucket_expr("k", n)).collect()]
        assert [_driver_bucket(v, key_type, n) for v in values] == want


def test_driver_bucket_leaves_other_values_to_spark():
    assert _driver_bucket(dt.date(2026, 1, 1), "date", 8) is None
    assert _driver_bucket(1.5, "double", 8) is None
    assert _driver_bucket("7", "int", 8) is None  # Spark would cast it
    assert _driver_bucket(True, "int", 8) is None
    assert _driver_bucket(2**31, "int", 8) is None


def test_read_key_fallback_key_type_finds_its_bucket(spark, tmp_path):
    """A key type with no driver rule still finds its bucket, with the one
    fallback job."""
    t = ParquetSnapshotTableIO(spark, str(tmp_path / "d"), key_cols=("day", "turn_idx"),
                               n_buckets=8, write_mode="mor", compact_delta_files=None)
    t.init_empty(T.StructType([
        T.StructField("day", T.DateType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
    ]))
    days = [dt.date(2026, 1, 1) + dt.timedelta(days=i) for i in range(30)]
    t.merge_apply(spark.createDataFrame(
        [(d, j, T0, "U", i * 2 + j) for i, d in enumerate(days) for j in range(2)],
        "day date, turn_idx int, ts timestamp, op string, _seq long"), "b1")
    df, built = _jobs(spark, lambda: t.read_key(days[7]))
    assert len(built) == 1
    assert sorted((r.day, r.turn_idx) for r in df.collect()) == [(days[7], 0), (days[7], 1)]
    b = spark.createDataFrame([(days[7],)], "day date").select(bucket_expr("day", 8)).first()[0]
    assert t.last_scan["files_total"] == len(t.current_manifest()["files"][str(b)])


def test_manifest_naming_a_deleted_file_raises(spark, tmp_path):
    t = _mor(spark, str(tmp_path / "t"))
    t.init_empty(SCHEMA)
    t.merge_apply(spark.createDataFrame(_rows([f"c{i}" for i in range(20)], 1), CHG), "b1")
    entry = next(iter(t.current_manifest()["files"].values()))[0]
    os.remove(os.path.join(t.root, entry["path"]))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        t.read()


def test_widened_columns_read_old_files_with_their_written_types(spark, tmp_path):
    t = _mor(spark, str(tmp_path / "t"), n_buckets=2)
    t.init_empty(T.StructType([*SCHEMA.fields, T.StructField("day", T.DateType()),
                               T.StructField("n", T.IntegerType())]))
    chg = f"{CHG[:CHG.index(', op')]}, day date, n int, op string, _seq long"
    t.merge_apply(spark.createDataFrame(
        [("c1", 0, "a", T0, dt.date(2026, 1, 2), 7, "U", 1)], chg), "b1")
    t.evolve_schema([{"action": "widen", "name": "n", "type": "bigint"},
                     {"action": "widen", "name": "day", "type": "timestamp"}])
    t.merge_apply(spark.createDataFrame(
        [("c2", 0, "b", T0, dt.datetime(2026, 1, 3, 4), 2**40, "U", 2)],
        chg.replace("day date, n int", "day timestamp, n bigint")), "b2")

    df = t.read()
    assert dict(df.dtypes)["n"] == "bigint" and dict(df.dtypes)["day"] == "timestamp"
    assert sorted((r.conv_id, r.day, r.n) for r in df.collect()) == [
        ("c1", dt.datetime(2026, 1, 2), 7), ("c2", dt.datetime(2026, 1, 3, 4), 2**40)]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "day:date,n:int" in plan and "day:timestamp,n:bigint" in plan


def _two_handles(spark, root):
    """A 40-key MoR table in 4 buckets, a second handle B opened on it, then
    rebucketed to 16 through the first handle A."""
    a = _mor(spark, root, n_buckets=4)
    a.init_empty(SCHEMA)
    keys = [f"c{i}" for i in range(40)]
    a.merge_apply(spark.createDataFrame(_rows(keys, 1), CHG), "b1")
    b = ParquetSnapshotTableIO(spark, root, write_mode="mor", compact_delta_files=None)
    assert b.n_buckets == 4
    a.rebucket(16)
    return a, b, keys


def _assert_laid_out(t, n_buckets):
    """Every file's keys hash into the bucket the manifest files it under."""
    m = t.current_manifest()
    assert m["n_buckets"] == n_buckets
    for bucket, es in m["files"].items():
        for e in es:
            keys = pq.read_table(os.path.join(t.root, e["path"]), columns=["conv_id"])
            assert {_driver_bucket(k, "string", n_buckets)
                    for k in keys["conv_id"].to_pylist()} == {int(bucket)}


def test_stale_handle_reads_in_the_manifest_layout(spark, tmp_path):
    _, b, keys = _two_handles(spark, str(tmp_path / "t"))
    assert all(b.read_key(k).count() == 1 for k in keys)
    assert b.read().count() == 40


def test_stale_handle_merge_adopts_the_manifest_layout(spark, tmp_path):
    a, b, keys = _two_handles(spark, str(tmp_path / "t"))
    b.merge_apply(spark.createDataFrame(_rows(keys, 2), CHG), "b2")
    assert b.n_buckets == 16
    assert {r.text for r in a.read().collect()} == {"v2"} and a.read().count() == 40
    _assert_laid_out(a, 16)


def test_stale_handle_maintenance_writes_the_manifest_layout(spark, tmp_path, monkeypatch):
    """The Spark fold and expire_tombstones on stale handles rewrite in the
    manifest's layout, not the handle's old one."""
    import pentaho_kettle_spark.tableio.parquet_snapshot as ps

    monkeypatch.setattr(ps, "ARROW_FOLD_MAX_BYTES", 0)  # every bucket folds in Spark
    a = _mor(spark, str(tmp_path / "t"), n_buckets=4)
    a.init_empty(SCHEMA)
    keys = [f"c{i}" for i in range(200)]  # every one of the 16 buckets holds keys
    a.merge_apply(spark.createDataFrame(_rows(keys, 1), CHG), "b1")
    b, c = (ParquetSnapshotTableIO(spark, a.root, write_mode="mor", compact_delta_files=None)
            for _ in range(2))
    a.rebucket(16)
    a.merge_apply(spark.createDataFrame(_rows(keys[:10], 2), CHG), "b2")
    assert b.compact()
    _assert_laid_out(a, 16)
    c.expire_tombstones()
    _assert_laid_out(a, 16)
    assert a.read().count() == 200 and all(a.read_key(k).count() == 1 for k in keys[:20])


def test_stale_handle_replay_restages_its_bucket_fused_batches(spark, tmp_path):
    """replay on a stale handle hashes its fused `_bucket` for the old
    layout; the merge re-stages it for the manifest's."""
    pdf = gen_changelog(2000, 100, seed=5)
    cut = pdf["ingest_ts"].median()
    a = _mor(spark, str(tmp_path / "t"), n_buckets=4)
    a.init_empty(T.StructType([f for f in CHANGELOG_SCHEMA.fields
                               if f.name not in ("seq", "op", "ingest_ts")]))
    replay_changelog(spark, a, spark.createDataFrame(pdf[pdf["ingest_ts"] <= cut],
                                                     schema=CHANGELOG_SCHEMA), run_id="early")
    b = ParquetSnapshotTableIO(spark, a.root, write_mode="mor", compact_delta_files=None)
    a.rebucket(16)
    replay_changelog(spark, b, spark.createDataFrame(pdf[pdf["ingest_ts"] > cut],
                                                     schema=CHANGELOG_SCHEMA),
                     n_batches=3, run_id="late")
    _assert_laid_out(b, 16)
    assert_df_equals_pandas(b.read(), pandas_oracle_apply(pdf), ["conv_id", "turn_idx"])


def test_merge_replans_when_the_layout_changes_before_its_commit(spark, tmp_path):
    """A rebucket that lands between a merge's write and its commit makes
    the commit conflict; the merge lays its batch out again in the new
    layout and commits, instead of filing old-layout files under it."""
    a = _mor(spark, str(tmp_path / "t"), n_buckets=4)
    a.init_empty(SCHEMA)
    keys = [f"c{i}" for i in range(40)]
    a.merge_apply(spark.createDataFrame(_rows(keys, 1), CHG), "b1")
    b = ParquetSnapshotTableIO(spark, a.root, write_mode="mor", compact_delta_files=None)
    orig = b._write_buckets
    writes = []

    def write_then_rebucket(*args, **kwargs):
        out = orig(*args, **kwargs)
        writes.append(sorted(out))
        if len(writes) == 1:
            a.rebucket(16)
        return out

    b._write_buckets = write_then_rebucket
    b.merge_apply(spark.createDataFrame(_rows(keys, 2), CHG), "b2")
    assert len(writes) == 2 and len(writes[0]) <= 4 < len(writes[1])
    assert "b2" in a.committed_batches() and b.n_buckets == 16
    assert {r.text for r in a.read().collect()} == {"v2"} and a.read().count() == 40
    _assert_laid_out(a, 16)
