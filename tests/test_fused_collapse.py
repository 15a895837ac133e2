"""Fused bucket-aligned collapse: identical results to the key-partitioned
collapse, with the single-exchange plan the design claims."""

from __future__ import annotations

from pyspark.sql import functions as F

from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA
from pentaho_kettle_spark.cdc.lww import (
    lww_collapse,
    lww_collapse_bucketed,
)
from pentaho_kettle_spark.fixtures import gen_changelog


def _n_exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def _rows(df, key=("conv_id", "turn_idx")):
    cols = sorted(c for c in df.columns if c != "_bucket")
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_fused_equals_unfused(spark):
    pdf = gen_changelog(4000, 150, seed=3)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).drop("ingest_ts")
    base = lww_collapse(log)
    fused = lww_collapse_bucketed(log, n_buckets=8)
    assert _rows(base) == _rows(fused)
    # bucket column matches the table layout hash
    chk = fused.withColumn(
        "_expect", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(8)).cast("int")
    )
    assert chk.filter(F.col("_bucket") != F.col("_expect")).isEmpty()


def test_fused_salted_equals_unfused(spark):
    pdf = gen_changelog(4000, 50, seed=4, zipf_a=1.4)  # skewed: salts do work
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).drop("ingest_ts")
    base = lww_collapse(log)
    hot = [tuple(r) for r in pdf[["conv_id", "turn_idx"]].drop_duplicates().head(5).itertuples(index=False)]
    fused = lww_collapse_bucketed(log, n_buckets=8, n_salts=4, hot_keys=hot)
    assert _rows(base) == _rows(fused)


def test_fused_plan_single_exchange(spark):
    pdf = gen_changelog(1000, 50, seed=5)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).drop("ingest_ts")
    assert _n_exchanges(lww_collapse_bucketed(log, n_buckets=8)) == 1
    # salted variant: raw exchange on (bucket, salt) + tiny reduce on bucket
    assert (
        _n_exchanges(lww_collapse_bucketed(log, n_buckets=8, n_salts=4)) == 2
    )
    # every other collapse shape, pinned: key-partitioned one exchange;
    # salted two-phase two, with or without the bucket fusion ...
    hot = [tuple(r) for r in pdf[["conv_id", "turn_idx"]].drop_duplicates().head(3).itertuples(index=False)]
    assert _n_exchanges(lww_collapse(log)) == 1
    assert _n_exchanges(lww_collapse(log, n_salts=4, hot_keys=hot)) == 2
    assert _n_exchanges(lww_collapse_bucketed(log, n_buckets=8, n_salts=4, hot_keys=hot)) == 2
    # ... and an empty hot list means no salt: single-phase on every shape
    assert _n_exchanges(lww_collapse(log, n_salts=4, hot_keys=[])) == 1
    assert _n_exchanges(lww_collapse_bucketed(log, n_buckets=8, n_salts=4, hot_keys=[])) == 1
    # the unfused pipeline this replaces: collapse exchange + write restage
    unfused = lww_collapse(log).withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(8)).cast("int")
    ).repartition("_bucket")
    assert _n_exchanges(unfused) == 2


def test_cow_fused_merge_equals_key_merge(spark, tmp_path):
    """Steady-state CoW merge with a bucket-aligned batch (`_bucket` carried
    through merge_apply, join co-partitioned on it — r6) must produce the
    same table as the key-partitioned merge, file layout included."""
    import pandas as pd
    import pyspark.sql.types as T

    from pentaho_kettle_spark.fixtures import pandas_oracle_apply
    from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

    sch = T.StructType(
        [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op", "ingest_ts")]
    )
    pdf = gen_changelog(6000, 250, seed=9)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA)
    half1 = log.filter(F.col("seq") % 2 == 0).drop("ingest_ts")
    half2 = log.filter(F.col("seq") % 2 == 1).drop("ingest_ts")

    outs = {}
    for kind in ("key", "bucket"):
        t = ParquetSnapshotTableIO(
            spark, str(tmp_path / kind), n_buckets=8, write_mode="cow"
        )
        t.init_empty(sch)
        t.merge_apply(lww_collapse(half1), batch_id="b0", assume_collapsed=True)
        coll = (
            lww_collapse(half2)
            if kind == "key"
            else lww_collapse_bucketed(half2, n_buckets=8)
        )
        rec = t.merge_apply(coll, batch_id="b1", assume_collapsed=True)
        assert rec["touched_buckets"]  # merged something
        pdf_out = (
            t.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )
        pdf_out["ts"] = pdf_out["ts"].astype("datetime64[us]")
        outs[kind] = (pdf_out, rec["metrics"])
        # exactly one base file per touched bucket either way
        for b, es in t.current_manifest()["files"].items():
            assert [e["kind"] for e in es] == ["base"], (kind, b, es)

    pd.testing.assert_frame_equal(outs["key"][0], outs["bucket"][0])
    assert outs["key"][1] == outs["bucket"][1]  # same outcome metrics
    oracle = (
        pandas_oracle_apply(pdf).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(outs["key"][0][oracle.columns], oracle)
