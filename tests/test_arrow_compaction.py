"""Arrow-native folds (_arrow_fold_bucket) must be indistinguishable from
the Spark fold: same table state, same manifest stats, same downstream
major-fold result. The fold picks its engine per bucket; a Spark-side
reference is forced by setting ARROW_FOLD_MAX_BYTES to 0."""

from __future__ import annotations

import os

import pandas as pd
import pyspark.sql.types as T
import pytest

from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA
from pentaho_kettle_spark.cdc.replay import replay_changelog
from pentaho_kettle_spark.fixtures import gen_changelog, pandas_oracle_apply
from pentaho_kettle_spark.tableio import parquet_snapshot
from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

DATA_SCHEMA = T.StructType(
    [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op", "ingest_ts")]
)


def _ingest(spark, root, pdf, **kw):
    t = ParquetSnapshotTableIO(
        spark, root, n_buckets=8, write_mode="mor", compact_delta_files=None, **kw
    )
    t.init_empty(DATA_SCHEMA)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA)
    replay_changelog(spark, t, log, n_batches=4, salted=True, run_id="af")
    return t


def _spark_fold(monkeypatch, table, fold):
    """Run `fold` ("compact" / "compact_minor") with every bucket routed to
    the Spark fold."""
    with monkeypatch.context() as mp:
        mp.setattr(parquet_snapshot, "ARROW_FOLD_MAX_BYTES", 0)
        return getattr(table, fold)()


def _sorted_pdf(df):
    pdf = df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


def test_arrow_minor_fold_matches_spark(spark, tmp_path, monkeypatch):
    pdf = gen_changelog(8000, 400, seed=11)
    ta = _ingest(spark, str(tmp_path / "arrow"), pdf)
    ts_ = _ingest(spark, str(tmp_path / "spark"), pdf)

    done_a = ta.compact_minor()
    done_s = _spark_fold(monkeypatch, ts_, "compact_minor")
    assert done_a == done_s and done_a  # same due buckets, something folded

    # table state identical to each other AND to the sequential oracle
    got_a, got_s = _sorted_pdf(ta.read()), _sorted_pdf(ts_.read())
    pd.testing.assert_frame_equal(got_a, got_s)
    oracle = (
        pandas_oracle_apply(pdf)
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_a[oracle.columns], oracle)

    # manifest stats per folded bucket agree (rows / del_rows / lww bounds)
    ma, ms = ta.current_manifest()["files"], ts_.current_manifest()["files"]
    for b in map(str, done_a):
        ea = [e for e in ma[b] if e["kind"] == "delta"]
        es = [e for e in ms[b] if e["kind"] == "delta"]
        assert len(ea) == len(es) == 1  # k deltas folded to ONE
        for stat in ("rows", "del_rows", "lww_min", "lww_max", "schema_version"):
            assert ea[0].get(stat) == es[0].get(stat), (b, stat, ea, es)

    # a later MAJOR fold over the arrow-written delta behaves identically
    ta.compact()
    _spark_fold(monkeypatch, ts_, "compact")
    pd.testing.assert_frame_equal(_sorted_pdf(ta.read()), _sorted_pdf(ts_.read()))
    assert all(
        e["kind"] == "base"
        for es in ta.current_manifest()["files"].values()
        for e in es
    )


def test_arrow_fold_after_schema_evolution_falls_back(spark, tmp_path):
    """Deltas spanning schema versions in one bucket take the Spark path
    transparently (the result must still be correct)."""
    from pyspark.sql import functions as F

    from pentaho_kettle_spark.cdc.replay import apply_batch

    t = ParquetSnapshotTableIO(
        spark, str(tmp_path / "evo"), n_buckets=4, write_mode="mor",
        compact_delta_files=None,
    )
    t.init_empty(DATA_SCHEMA)
    pdf = gen_changelog(3000, 200, seed=3)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA)
    half = log.filter(F.col("seq") % 2 == 0).drop("ingest_ts")
    apply_batch(t, half, batch_id="e0")
    # add a column mid-stream -> later deltas carry a new schema_version
    evolved = (
        log.filter(F.col("seq") % 2 == 1)
        .drop("ingest_ts")
        .withColumn("lang", F.lit("en"))
    )
    apply_batch(t, evolved, batch_id="e1")
    # delta paths of every bucket whose deltas span schema versions
    mixed = {
        e["path"]
        for es in t.current_manifest()["files"].values()
        if len({e["schema_version"] for e in es if e["kind"] == "delta"}) > 1
        for e in es if e["kind"] == "delta"
    }
    assert mixed
    rewritten: set = set()
    spark_rewrite = t._rewrite

    def recording_rewrite(entries, schema, kind):
        rewritten.update(e["path"] for e in entries)
        return spark_rewrite(entries, schema, kind)

    t._rewrite = recording_rewrite
    done = t.compact_minor()
    assert done  # folded (via fallback where needed)
    assert mixed <= rewritten, "a mixed-version bucket skipped the Spark fold"
    versions = {
        e["schema_version"]
        for es in t.current_manifest()["files"].values()
        for e in es
    }
    assert versions  # table still readable, mixed-version entries intact
    assert t.read().count() > 0


def test_arrow_major_fold_matches_spark(spark, tmp_path, monkeypatch):
    """The driver-side arrow MAJOR fold must leave the same table state and
    manifest shape as the Spark rewrite."""
    pdf = gen_changelog(8000, 400, seed=17)
    ta = _ingest(spark, str(tmp_path / "arrow"), pdf)
    ts_ = _ingest(spark, str(tmp_path / "spark"), pdf)

    done_a = ta.compact()
    done_s = _spark_fold(monkeypatch, ts_, "compact")
    assert done_a == done_s and done_a

    got_a, got_s = _sorted_pdf(ta.read()), _sorted_pdf(ts_.read())
    pd.testing.assert_frame_equal(got_a, got_s)
    oracle = (
        pandas_oracle_apply(pdf)
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_a[oracle.columns], oracle)

    # every folded bucket is ONE base file on both engines, same row stats
    ma, ms = ta.current_manifest()["files"], ts_.current_manifest()["files"]
    for b in map(str, done_a):
        assert [e["kind"] for e in ma[b]] == ["base"]
        assert [e["kind"] for e in ms[b]] == ["base"]
        assert ma[b][0]["rows"] == ms[b][0]["rows"]


@pytest.mark.parametrize("fold", ["compact", "compact_minor"])
def test_arrow_major_fold_size_guard_routes_to_spark(spark, tmp_path, monkeypatch, fold):
    """Buckets above ARROW_FOLD_MAX_BYTES must take the Spark path on both
    folds (driver memory stays bounded) — and still fold correctly."""
    monkeypatch.setattr(parquet_snapshot, "ARROW_FOLD_MAX_BYTES", 1)  # force everything big

    def _no_arrow(*a, **k):
        raise AssertionError("an oversized bucket reached the arrow kernel")

    monkeypatch.setattr(parquet_snapshot, "_arrow_fold_bucket", _no_arrow)
    pdf = gen_changelog(4000, 200, seed=23)
    t = _ingest(spark, str(tmp_path / "big"), pdf)
    done = getattr(t, fold)()
    assert done
    oracle = (
        pandas_oracle_apply(pdf)
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(_sorted_pdf(t.read())[oracle.columns], oracle)


@pytest.mark.parametrize("fold", ["compact", "compact_minor"])
def test_default_table_folds_small_buckets_on_arrow(spark, tmp_path, fold):
    """A table built without any engine setting folds every bucket that fits
    ARROW_FOLD_MAX_BYTES with the arrow kernel: the Spark fold never runs."""
    pdf = gen_changelog(4000, 200, seed=23)
    t = _ingest(spark, str(tmp_path / "t"), pdf)

    def _no_spark(*a, **k):
        raise AssertionError("a small bucket reached the Spark fold")

    t._rewrite = _no_spark
    assert getattr(t, fold)()
    oracle = (
        pandas_oracle_apply(pdf)
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(_sorted_pdf(t.read())[oracle.columns], oracle)
