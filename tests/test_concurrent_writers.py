"""Concurrent-writer isolation: the CoW merge's optimistic commit loop and
the stale-pin rule of pinned-file-set rewrites (folds, expire_tombstones).

The tests interleave a second writer deterministically by hooking the first
writer's `_write_buckets` or `_new_write_dir` (data files are written OUTSIDE
the commit lock, so this is exactly the window a real concurrent commit
lands in). Before the fixes, writer B's commit was silently erased or
doubled: the CoW merge swapped in a rewrite planned against a stale
manifest; expire_tombstones first replaced the whole file map with its
pre-rewrite view, then kept its output beside a concurrent CoW rewrite of
the same bucket; and a fold re-added buckets a concurrent rebucket had
removed.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import functions as F

from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA
from pentaho_kettle_spark.cdc.replay import replay_changelog
from pentaho_kettle_spark.fixtures import gen_changelog, pandas_oracle_apply
from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("v", T.DoubleType()),
    T.StructField("ts", T.LongType()),
])


def _mk(spark, root, **kw):
    kw.setdefault("n_buckets", 1)  # one bucket => writers always collide
    t = ParquetSnapshotTableIO(spark, root, key_cols=("k",), lww_col="ts", **kw)
    if not t.exists():
        t.init_empty(SCHEMA)
    return t


def _changes(spark, rows):
    """rows: (k, v, ts, seq, op)"""
    sch = "k string, v double, ts long, _seq long, op string"
    return spark.createDataFrame(rows, sch).select("k", "v", "ts", "op", "_seq")


def _hook_first_write(t, fire, method="_write_buckets"):
    """Run `fire()` once, right after t's first call of `method` (a data
    write or a write-dir allocation, i.e. inside the pre-commit window),
    then restore normal behavior."""
    orig = getattr(t, method)
    state = {"writes": 0}

    def hooked(*args, **kwargs):
        out = orig(*args, **kwargs)
        state["writes"] += 1
        if state["writes"] == 1:
            fire()
        return out

    setattr(t, method, hooked)
    return state


def _assert_matches_oracle(table, pdf):
    got = table.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    got["ts"] = got["ts"].astype("datetime64[us]")
    exp = pandas_oracle_apply(pdf).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    exp["ts"] = exp["ts"].astype("datetime64[us]")
    assert len(exp) == 2782  # gen_changelog(4000, 200, seed=5)
    pd.testing.assert_frame_equal(got[exp.columns], exp)


_DATA_SCHEMA = T.StructType(
    [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op", "ingest_ts")]
)


def test_cow_merge_retries_on_concurrent_commit(spark, tmp_path):
    """Writer B commits into writer A's touched bucket between A's rewrite
    and A's commit: A must detect the conflict, replan, and both rows must
    survive (before the fix, B's row vanished)."""
    root = str(tmp_path / "cow_race")
    a = _mk(spark, root, write_mode="cow")
    a.merge_apply(_changes(spark, [("k1", 1.0, 10, 1, "U")]), batch_id="seed")

    b = ParquetSnapshotTableIO(spark, root, key_cols=("k",), lww_col="ts",
                               write_mode="cow")

    def concurrent_commit():
        b.merge_apply(_changes(spark, [("kB", 7.0, 20, 2, "U")]), batch_id="B")

    state = _hook_first_write(a, concurrent_commit)
    res = a.merge_apply(_changes(spark, [("kA", 3.0, 30, 3, "U")]), batch_id="A")

    # A's first write attempt hit the conflict; the retry wrote again
    assert state["writes"] >= 2, "expected a conflict-driven second rewrite"
    assert "skipped_duplicate_batch" not in res
    got = {(r.k, r.v) for r in a.read().collect()}
    assert got == {("k1", 1.0), ("kB", 7.0), ("kA", 3.0)}
    assert {"seed", "A", "B"} <= a.committed_batches()
    # the retried plan merged against B's state, so kB carries B's _seq
    full = {r.k: r._seq for r in a.read_full().collect()}
    assert full["kB"] == 2 and full["kA"] == 3


def test_cow_retry_is_idempotent_under_duplicate_batch(spark, tmp_path):
    """If the 'concurrent' commit is a re-delivery of the SAME batch id, the
    conflicted writer must come back as a duplicate skip, not double-apply."""
    root = str(tmp_path / "cow_dup")
    a = _mk(spark, root, write_mode="cow")
    a.merge_apply(_changes(spark, [("k1", 1.0, 10, 1, "U")]), batch_id="seed")

    b = ParquetSnapshotTableIO(spark, root, key_cols=("k",), lww_col="ts",
                               write_mode="cow")

    def same_batch_from_elsewhere():
        b.merge_apply(_changes(spark, [("kX", 5.0, 40, 4, "U")]), batch_id="X")

    _hook_first_write(a, same_batch_from_elsewhere)
    res = a.merge_apply(_changes(spark, [("kX", 5.0, 40, 4, "U")]), batch_id="X")
    assert res == {"skipped_duplicate_batch": "X"}
    rows = a.read().filter(F.col("k") == "kX").collect()
    assert len(rows) == 1 and rows[0].v == 5.0


def test_expire_tombstones_keeps_concurrent_delta(spark, tmp_path):
    """A MoR delta appended while expire_tombstones rewrites must survive the
    rewrite commit (before the fix the whole file map was replaced and the
    delta's rows vanished)."""
    root = str(tmp_path / "expire_race")
    t = _mk(spark, root, write_mode="mor", compact_delta_files=None)
    t.merge_apply(_changes(spark, [("k1", 1.0, 10, 1, "U"),
                                   ("k2", 2.0, 10, 2, "U")]), batch_id="seed")
    t.merge_apply(_changes(spark, [("k2", None, 20, 3, "D")]), batch_id="del")

    w = ParquetSnapshotTableIO(spark, root, key_cols=("k",), lww_col="ts",
                               write_mode="mor", compact_delta_files=None)

    def concurrent_ingest():
        w.merge_apply(_changes(spark, [("k3", 9.0, 99, 4, "U")]), batch_id="C")

    _hook_first_write(t, concurrent_ingest)
    t.expire_tombstones()  # quiesced-stream variant: drops every tombstone

    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {("k1", 1.0), ("k3", 9.0)}  # k3 survived, k2's stone gone
    assert t.read_full().filter(F.col("_deleted")).isEmpty()
    assert "C" in t.committed_batches()


def test_expire_snapshots_gc_spares_inflight_writer(spark, tmp_path):
    """expire_snapshots with grace_seconds=0 fired inside another writer's
    pre-commit window must not orphan-collect that writer's uncommitted data
    files (found by the generated-schedule fuzz: the in-flight files are
    unreferenced by every snapshot, so age-based grace alone deleted them
    and the subsequent commit referenced vanished paths). The in-flight
    marker written by _new_write_dir is what shields them."""
    root = str(tmp_path / "gc_inflight")
    t = _mk(spark, root, write_mode="mor", compact_delta_files=None)

    w = ParquetSnapshotTableIO(spark, root, key_cols=("k",), lww_col="ts",
                               write_mode="mor", compact_delta_files=None)

    def concurrent_gc():
        w.expire_snapshots(keep_last=2, grace_seconds=0.0)

    _hook_first_write(t, concurrent_gc)
    t.merge_apply(_changes(spark, [("k0", 1.0, 10, 1, "U")]), batch_id="b1")
    t.merge_apply(_changes(spark, [("k0", 2.0, 20, 2, "U")]), batch_id="b2")

    got = {(r.k, r.v, r.ts) for r in t.read().collect()}
    assert got == {("k0", 2.0, 20)}
    # committed markers were released: a later GC still collects true orphans
    import os
    assert os.listdir(os.path.join(root, "_inflight")) == []


def test_commit_releases_only_own_threads_markers(spark, tmp_path):
    """Two threads share one handle: thread B's commit must not drop
    thread A's pre-commit in-flight marker (r6 ADVICE fix — a dropped
    marker re-exposes A's uncommitted files to grace=0 orphan GC)."""
    import os
    import threading

    import pyspark.sql.types as T

    from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

    t = ParquetSnapshotTableIO(spark, str(tmp_path / "t"), n_buckets=4)
    t.init_empty(T.StructType([T.StructField("conv_id", T.StringType()),
                               T.StructField("turn_idx", T.IntegerType()),
                               T.StructField("ts", T.TimestampType())]))

    staged = {}
    ready = threading.Event()
    release = threading.Event()

    def writer_a():
        outdir = t._new_write_dir()  # registers A's marker thread-locally
        staged["marker"] = os.path.join(
            t.root, "_inflight", os.path.basename(outdir)
        )
        ready.set()
        release.wait(30)
        # A now finishes its own commit — ITS marker is released
        t._commit_mutation(lambda cur: dict(cur))

    th = threading.Thread(target=writer_a)
    th.start()
    ready.wait(30)
    assert os.path.exists(staged["marker"])
    # thread B (main) commits while A is pre-commit
    t._commit_mutation(lambda cur: dict(cur))
    assert os.path.exists(staged["marker"]), "B's commit dropped A's marker"
    release.set()
    th.join(30)
    assert not os.path.exists(staged["marker"])  # A's own commit released it


def test_fold_loses_to_concurrent_rebucket(spark, tmp_path):
    """rebucket(4) from a second handle commits while compact() is mid-fold
    on an 8-bucket MoR table. Every bucket the fold pinned was replaced
    (0-3) or removed (4-7), so none may take the fold's output. Before the
    stale-pin rule covered vanished buckets, 4-7 came back and read()
    returned 4326 rows instead of the oracle's 2782."""
    root = str(tmp_path / "fold_rebucket")
    pdf = gen_changelog(4000, 200, seed=5)
    t = ParquetSnapshotTableIO(spark, root, n_buckets=8, write_mode="mor",
                               compact_delta_files=None)
    t.init_empty(_DATA_SCHEMA)
    replay_changelog(spark, t, spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA),
                     n_batches=4, run_id="r")
    other = ParquetSnapshotTableIO(spark, root, write_mode="mor",
                                   compact_delta_files=None)

    _hook_first_write(t, lambda: other.rebucket(4), method="_new_write_dir")
    done = t.compact()

    _assert_matches_oracle(t, pdf)
    assert done == []
    m = t.current_manifest()
    assert m["n_buckets"] == 4 and set(m["files"]) <= {"0", "1", "2", "3"}


def test_expire_tombstones_loses_to_concurrent_cow_merge(spark, tmp_path):
    """A CoW batch from a second handle commits while expire_tombstones is
    rewriting: the buckets the batch rewrote must keep the batch's files.
    Before expire_tombstones committed through the stale-pin rule, both
    versions of each such bucket stayed as base files and read() returned
    4207 rows instead of the oracle's 2782."""
    root = str(tmp_path / "expire_cow")
    pdf = gen_changelog(4000, 200, seed=5)
    cut = pdf["ingest_ts"].median()
    early, late = pdf[pdf["ingest_ts"] <= cut], pdf[pdf["ingest_ts"] > cut]
    t = ParquetSnapshotTableIO(spark, root, n_buckets=8, write_mode="cow")
    t.init_empty(_DATA_SCHEMA)
    replay_changelog(spark, t, spark.createDataFrame(early, schema=CHANGELOG_SCHEMA),
                     n_batches=2, run_id="early")
    other = ParquetSnapshotTableIO(spark, root, write_mode="cow")

    def late_batch():
        replay_changelog(spark, other,
                         spark.createDataFrame(late, schema=CHANGELOG_SCHEMA),
                         run_id="late")

    _hook_first_write(t, late_batch)
    # the late half's own out-of-order bound: no later event is older
    t.expire_tombstones(watermark=late["ts"].min().to_pydatetime())

    assert "late-00000" in t.committed_batches()
    _assert_matches_oracle(t, pdf)
