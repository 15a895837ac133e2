"""Async/scheduled compaction racing a live ingest writer.

The commit path is mutation-based under the table's commit lock
(parquet_snapshot._commit_mutation); compact() folds a pinned file set and
removes exactly those paths at commit time. These tests drive a real race:
a background CompactionScheduler folding while replay batches append deltas,
with the pandas oracle as the ground truth."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.types as T
import pytest

from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA
from pentaho_kettle_spark.cdc.replay import replay_changelog
from pentaho_kettle_spark.fixtures import gen_changelog, pandas_oracle_apply
from pentaho_kettle_spark.tableio import (
    CompactionPolicy,
    CompactionScheduler,
    ParquetSnapshotTableIO,
    run_compaction_cycle,
)

DATA_SCHEMA = T.StructType(
    [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op", "ingest_ts")]
)


def _assert_matches_oracle(table, pdf):
    got = table.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    got["ts"] = got["ts"].astype("datetime64[us]")
    exp = pandas_oracle_apply(pdf).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    exp["ts"] = exp["ts"].astype("datetime64[us]")
    pd.testing.assert_frame_equal(got[sorted(got.columns)], exp[sorted(exp.columns)])
    return len(got)


def test_policy_triggers_on_count_and_share():
    manifest = {"files": {
        "0": [{"kind": "base", "rows": 1000}] + [{"kind": "delta", "rows": 1}] * 3,
        "1": [{"kind": "base", "rows": 10}, {"kind": "delta", "rows": 90}],
        "2": [{"kind": "base", "rows": 1000}],
    }}
    assert CompactionPolicy(max_delta_files=2).buckets_due(manifest) == [0]
    assert CompactionPolicy(max_delta_files=0).buckets_due(manifest) == [0, 1]


def test_policy_stagger_phase_shifts_thresholds():
    """stagger=k raises bucket b's delta-count threshold by b mod (k+1), so
    uniformly-loaded buckets come due in sub-waves instead of all at once."""
    def manifest(n_deltas):
        return {"files": {
            str(b): [{"kind": "base", "rows": 1000}]
            + [{"kind": "delta", "rows": 1}] * n_deltas
            for b in range(4)
        }}

    pol = CompactionPolicy(max_delta_files=2, stagger=3)
    # thresholds: b0=2, b1=3, b2=4, b3=5 → due strictly above each
    assert pol.buckets_due(manifest(3)) == [0]
    assert pol.buckets_due(manifest(4)) == [0, 1]
    assert pol.buckets_due(manifest(6)) == [0, 1, 2, 3]
    # stagger=0 keeps the old single-wave behavior
    assert CompactionPolicy(max_delta_files=2).buckets_due(manifest(3)) == [0, 1, 2, 3]


def test_manual_cycle_folds_deltas(spark, tmp_path):
    pdf = gen_changelog(4000, 200, seed=3)
    table = ParquetSnapshotTableIO(
        spark, str(tmp_path / "t"), n_buckets=4, write_mode="mor",
        compact_delta_files=None,  # inline compaction off
    )
    table.init_empty(DATA_SCHEMA)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA)
    replay_changelog(spark, table, log, n_batches=4, run_id="m")

    m = table.current_manifest()
    assert any(e["kind"] == "delta" for es in m["files"].values() for e in es)
    done = run_compaction_cycle(table, CompactionPolicy(max_delta_files=0))
    assert done  # every delta-carrying bucket folded
    m2 = table.current_manifest()
    assert not any(e["kind"] == "delta" for es in m2["files"].values() for e in es)
    _assert_matches_oracle(table, pdf)


def test_scheduler_races_live_ingest(spark, tmp_path):
    """Aggressive scheduler (near-zero interval) folding WHILE 12 replay
    batches commit: final state must still equal the oracle bit-for-bit."""
    pdf = gen_changelog(24000, 600, seed=9)
    table = ParquetSnapshotTableIO(
        spark, str(tmp_path / "t"), n_buckets=8, write_mode="mor",
        compact_delta_files=None,
    )
    table.init_empty(DATA_SCHEMA)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA)

    sched = CompactionScheduler(
        table, CompactionPolicy(max_delta_files=1), interval_sec=0.05
    ).start()
    try:
        replay_changelog(spark, table, log, n_batches=12, run_id="race")
    finally:
        sched.stop(final_cycle=True)

    assert sched.compacted, "scheduler never compacted — race not exercised"
    rows = _assert_matches_oracle(table, pdf)
    assert rows > 0
    # fully folded after the drain cycle
    m = table.current_manifest()
    assert not any(e["kind"] == "delta" for es in m["files"].values() for e in es)


def test_scheduler_error_surfaces_on_stop(spark, tmp_path):
    table = ParquetSnapshotTableIO(spark, str(tmp_path / "t"), n_buckets=2)
    table.init_empty(DATA_SCHEMA)
    sched = CompactionScheduler(table, interval_sec=0.01)
    sched.table = None  # force a failure inside the loop
    sched.start()
    import time

    time.sleep(0.2)
    with pytest.raises(RuntimeError, match="compaction scheduler failed"):
        sched.stop(final_cycle=False)


def test_duplicate_batch_skipped_under_mutation_commit(spark, tmp_path):
    """The duplicate check lives inside the commit mutation now — replaying
    an identical run must not change the snapshot."""
    pdf = gen_changelog(2000, 100, seed=5)
    table = ParquetSnapshotTableIO(spark, str(tmp_path / "t"), n_buckets=4,
                                   write_mode="mor", compact_delta_files=None)
    table.init_empty(DATA_SCHEMA)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA)
    replay_changelog(spark, table, log, n_batches=3, run_id="dup")
    sid = table.snapshot_id()
    recs = replay_changelog(spark, table, log, n_batches=3, run_id="dup")
    assert all("skipped_duplicate_batch" in r for r in recs)
    assert table.snapshot_id() == sid


def test_minor_compaction_merges_deltas_base_untouched(spark, tmp_path):
    """compact_minor: k delta files per bucket become 1 WITHOUT touching the
    base files (O(delta rows) read, not O(bucket rows)); the visible table
    is unchanged — LWW collapse is associative, so pre-collapsing deltas
    cannot change winners."""
    pdf = gen_changelog(4000, 200, seed=11)
    table = ParquetSnapshotTableIO(
        spark, str(tmp_path / "t"), n_buckets=4, write_mode="mor",
        compact_delta_files=None,
    )
    table.init_empty(DATA_SCHEMA)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA)
    replay_changelog(spark, table, log, n_batches=4, run_id="mn")
    m0 = table.current_manifest()
    base_paths = {
        e["path"] for es in m0["files"].values() for e in es if e["kind"] == "base"
    }
    assert any(
        sum(1 for e in es if e["kind"] == "delta") > 1 for es in m0["files"].values()
    )
    done = table.compact_minor()
    assert done
    m1 = table.current_manifest()
    for es in m1["files"].values():
        assert sum(1 for e in es if e["kind"] == "delta") <= 1
    # base files carried forward by reference, byte-identical entries
    assert {
        e["path"] for es in m1["files"].values() for e in es if e["kind"] == "base"
    } == base_paths
    assert m1["lineage"][-1]["mode"] == "compact_minor"
    _assert_matches_oracle(table, pdf)
    # a later MAJOR fold on top of the merged deltas is still correct
    table.compact()
    _assert_matches_oracle(table, pdf)


def test_policy_routes_major_vs_minor():
    """major_min_delta_share: a big bucket with trickle deltas gets a MINOR
    fold; a bucket whose deltas rival its base gets the MAJOR rewrite; a
    single-delta bucket below the share is left alone (merge would no-op)."""
    manifest = {"files": {
        # 10k base, 3 tiny deltas → due by count, share 0.0003 → minor
        "0": [{"kind": "base", "rows": 10000}] + [{"kind": "delta", "rows": 1}] * 3,
        # small base, heavy deltas → major
        "1": [{"kind": "base", "rows": 10}] + [{"kind": "delta", "rows": 45}] * 3,
        # due by count but only ONE delta file over the share cut → skip
        "2": [{"kind": "base", "rows": 10000}, {"kind": "delta", "rows": 1}],
        "3": [{"kind": "base", "rows": 1000}],
    }}
    p = CompactionPolicy(max_delta_files=0, major_min_delta_share=0.2)
    plan = p.plan(manifest)
    assert plan == {"major": [1], "minor": [0]}
    # without the share knob everything due is major (old behavior)
    assert CompactionPolicy(max_delta_files=0).plan(manifest) == {
        "major": [0, 1, 2], "minor": []
    }


def test_concurrent_inline_compaction_never_duplicates(spark, tmp_path):
    """Pipelined MoR replay + inline compaction (compact_delta_files set)
    runs compact() from two batch threads concurrently. Before the r6
    stale-pin guard, two folds of the same bucket each removed the pinned
    entries and added their own base file — BOTH bases survived and the
    table doubled (caught by the cdc_checkpoint_resume oracle row). The
    loser's fold must now leave the bucket exactly as the winner committed
    it."""
    import pandas as pd
    import pyspark.sql.types as T

    from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA
    from pentaho_kettle_spark.cdc.replay import replay_changelog
    from pentaho_kettle_spark.fixtures import gen_changelog, pandas_oracle_apply
    from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

    pdf = gen_changelog(8000, 300, seed=31)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA)
    t = ParquetSnapshotTableIO(
        spark, str(tmp_path / "t"), n_buckets=8, write_mode="mor",
        compact_delta_files=1,  # aggressive: every batch commit compacts
    )
    t.init_empty(T.StructType(
        [f for f in CHANGELOG_SCHEMA.fields
         if f.name not in ("seq", "op", "ingest_ts")]
    ))
    replay_changelog(spark, t, log, n_batches=4, run_id="dup")
    t.compact()
    got = (
        t.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    got["ts"] = got["ts"].astype("datetime64[us]")
    oracle = (
        pandas_oracle_apply(pdf).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[oracle.columns], oracle)
    # and no bucket carries more than one base file
    for b, es in t.current_manifest()["files"].items():
        assert sum(1 for e in es if e["kind"] == "base") <= 1, (b, es)
