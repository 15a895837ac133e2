"""Table maintenance: snapshot expiry + orphan-file GC + time travel,
tombstone watermarks, and the cross-process commit lock."""

from __future__ import annotations

import multiprocessing as mp
import os

import pyspark.sql.types as T
from pyspark.sql import functions as F

from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("v", T.DoubleType()),
    T.StructField("ts", T.LongType()),
])


def _mk(spark, root, **kw):
    t = ParquetSnapshotTableIO(
        spark, root, key_cols=("k",), lww_col="ts", n_buckets=4, **kw
    )
    t.init_empty(SCHEMA)
    return t


def _changes(spark, rows):
    """rows: (k, v, ts, seq, op)"""
    sch = "k string, v double, ts long, _seq long, op string"
    return spark.createDataFrame(rows, sch).select("k", "v", "ts", "op", "_seq")


def test_expire_snapshots_gc_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t1")
    t = _mk(spark, root)
    for i in range(5):
        t.merge_apply(
            _changes(spark, [(f"k{i}", float(i), 100 + i, i, "U")]),
            batch_id=f"b{i}",
        )
    all_ids = t.snapshot_ids()
    assert len(all_ids) == 6  # init + 5 merges
    mid_id = all_ids[-2]  # will be retained
    old_id = all_ids[1]  # will expire

    res = t.expire_snapshots(keep_last=2, grace_seconds=0.0)
    assert old_id in res["expired_snapshots"]
    assert t.snapshot_ids() == all_ids[-2:]

    # current read unaffected
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {f"k{i}": float(i) for i in range(5)}

    # time travel within the retained window still works
    prev = {r.k: r.v for r in t.read_at(mid_id).collect()}
    assert prev == {f"k{i}": float(i) for i in range(4)}

    # expired snapshot raises
    try:
        t.read_at(old_id)
        raise AssertionError("expected ValueError for expired snapshot")
    except ValueError:
        pass

    # every remaining data file is referenced by a retained manifest
    referenced = set()
    for i in t.snapshot_ids():
        for es in t.manifest_at(i)["files"].values():
            referenced.update(e["path"] for e in es)
    on_disk = set()
    for dirpath, _d, fns in os.walk(os.path.join(root, "data")):
        for fn in fns:
            if fn.endswith(".parquet"):
                on_disk.add(os.path.relpath(os.path.join(dirpath, fn), root))
    assert on_disk == referenced


def test_expire_snapshots_grace_keeps_young_orphans(spark, tmp_path):
    root = str(tmp_path / "t2")
    t = _mk(spark, root)
    t.merge_apply(_changes(spark, [("a", 1.0, 1, 1, "U")]), batch_id="b0")
    # fake an uncommitted writer's fresh file
    orphan = os.path.join(root, "data", "w-orphan", "_bucket=0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-x.parquet"), "wb") as f:
        f.write(b"x")
    res = t.expire_snapshots(keep_last=1, grace_seconds=3600.0)
    assert res["deleted_files"] == 0  # young orphan survives the grace window
    res2 = t.expire_snapshots(keep_last=1, grace_seconds=0.0)
    assert res2["deleted_files"] == 1  # grace elapsed -> collected


def test_tombstone_watermark(spark, tmp_path):
    root = str(tmp_path / "t3")
    t = _mk(spark, root)
    t.merge_apply(
        _changes(spark, [("k1", 1.0, 10, 1, "U"), ("k2", 2.0, 10, 2, "U")]),
        batch_id="seed",
    )
    # delete k1 recently (ts 100), k2 long ago (ts 20)
    t.merge_apply(
        _changes(spark, [("k1", None, 100, 3, "D"), ("k2", None, 20, 4, "D")]),
        batch_id="del",
    )
    t.expire_tombstones(watermark=50)
    full = t.read_full()
    stones = {r.k for r in full.filter(F.col("_deleted")).collect()}
    assert stones == {"k1"}  # k1's tombstone retained (>= watermark), k2's dropped
    # a late stale update for k1 (older than its tombstone) still loses
    t.merge_apply(_changes(spark, [("k1", 9.0, 60, 5, "U")]), batch_id="late")
    assert t.read().filter(F.col("k") == "k1").isEmpty()


def test_expire_older_than_composes_with_keep_last(spark, tmp_path):
    """older_than expires only snapshots that are BOTH outside keep_last
    AND committed before the cutoff (Iceberg ExpireSnapshots semantics)."""
    import time

    t = _mk(spark, str(tmp_path / "age"))
    for i in range(4):
        t.merge_apply(_changes(spark, [(f"k{i}", 1.0, 10 + i, i, "U")]),
                      batch_id=f"b{i}")
    ids = t.snapshot_ids()
    # cutoff in the future: everything old enough, so keep_last alone rules
    res = t.expire_snapshots(keep_last=2, grace_seconds=0,
                             older_than=time.time() + 60)
    assert res["expired_snapshots"] == ids[:-2]
    # cutoff in the past: nothing is old enough — keep_last must NOT expire
    t.merge_apply(_changes(spark, [("kx", 9.0, 99, 9, "U")]), batch_id="bx")
    res2 = t.expire_snapshots(keep_last=1, grace_seconds=0,
                              older_than=time.time() - 3600)
    assert res2["expired_snapshots"] == []
    assert set(t.snapshot_ids()) >= set(ids[-2:])


def test_expire_keep_last_walks_each_heads_parent_chain(spark, tmp_path):
    """Snapshot ids are allocated globally across branches, so a chain's ids
    are SPARSE under interleaved branch/main commits. keep_last must count
    ancestors along each head's parent chain — id arithmetic
    (cur - keep_last + 1) silently retains fewer than keep_last ancestors
    of a head and expires a mid-chain manifest time travel still needs."""
    t = _mk(spark, str(tmp_path / "br"))
    b = t.branch("dev")
    # interleave: main, dev, main, dev, main, dev — global ids alternate
    for i in range(3):
        t.merge_apply(_changes(spark, [(f"m{i}", 1.0, 10 + i, 2 * i, "U")]),
                      batch_id=f"m{i}")
        b.merge_apply(_changes(spark, [(f"d{i}", 2.0, 10 + i, 2 * i + 1, "U")]),
                      batch_id=f"d{i}")
    main_head, dev_head = t.snapshot_id(), b.snapshot_id()
    main_parent, dev_parent = t._parent_of(main_head), b._parent_of(dev_head)
    res = t.expire_snapshots(keep_last=2, grace_seconds=0.0)
    kept = set(t.snapshot_ids())
    # both heads AND both second-ancestors retained — under the id-window
    # rule main_parent (3 ids below the global max) would have expired
    assert {main_head, main_parent, dev_head, dev_parent} <= kept
    assert res["expired_snapshots"]  # the older interleaved tail did expire
    # time travel to each head's parent still works: the fork point is
    # init-empty, so main's chain carries only m-keys, dev's only d-keys
    assert t.read_at(main_parent).count() == 2  # m0, m1
    b2 = t.branch("dev", create=False)
    assert b2.read_at(dev_parent).count() == 2  # d0, d1


def test_fast_forward_expired_ancestor_is_clean_divergence(spark, tmp_path):
    """A branch whose intermediate ancestors were expired cannot PROVE the
    stale main head is an ancestor — fast_forward must raise its normal
    divergence RuntimeError, not crash on the missing manifest."""
    import pytest

    t = _mk(spark, str(tmp_path / "ff"))
    b = t.branch("dev")
    for i in range(5):
        b.merge_apply(_changes(spark, [(f"d{i}", 2.0, 10 + i, i, "U")]),
                      batch_id=f"d{i}")
    # keep only the branch's last 2 ancestors; main head (the fork point)
    # is pinned as a head but the chain BETWEEN them expires
    b.expire_snapshots(keep_last=2, grace_seconds=0.0)
    with pytest.raises(RuntimeError, match="not an ancestor"):
        t.fast_forward("dev")


def _bump_worker(root: str, n: int) -> None:
    from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

    t = ParquetSnapshotTableIO(None, root)
    for _ in range(n):
        def mut(cur: dict) -> dict:
            out = dict(cur)
            out["lineage"] = [*cur["lineage"], {"mode": "test-bump", "pid": os.getpid()}]
            return out

        t._commit_mutation(mut)


def test_cross_process_commit_lock(tmp_path):
    """Two writer PROCESSES bumping the manifest concurrently must not lose
    updates (the flock CAS extends the in-process commit lock)."""
    root = str(tmp_path / "t4")
    t = ParquetSnapshotTableIO(None, root)
    t.init_empty(SCHEMA)
    n = 25
    ctx = mp.get_context("spawn")
    ps = [ctx.Process(target=_bump_worker, args=(root, n)) for _ in range(2)]
    for p in ps:
        p.start()
    for p in ps:
        p.join(timeout=120)
        assert p.exitcode == 0
    m = t.current_manifest()
    assert m["snapshot_id"] == 2 * n
    assert len(m["lineage"]) == 2 * n  # no lost updates


def test_expiry_during_active_ingest_with_async_compactor(spark, tmp_path):
    """Three contenders on the commit lock at once — ingest batches,
    the async CompactionScheduler, and repeated expire_snapshots — must
    lose no commits: the final state equals a single global collapse, and
    read_at() works for every retained snapshot."""
    import threading

    from pentaho_kettle_spark.tableio.compaction import (
        CompactionPolicy,
        CompactionScheduler,
    )

    root = str(tmp_path / "t_stress")
    t = _mk(spark, root, write_mode="mor", compact_delta_files=None)

    stop = threading.Event()
    expiry_errors: list[BaseException] = []
    expired_counts: list[int] = []

    def _expiry_loop():
        try:
            while not stop.wait(0.05):
                r = t.expire_snapshots(keep_last=3, grace_seconds=3600.0)
                expired_counts.append(len(r["expired_snapshots"]))
        except BaseException as exc:  # noqa: BLE001
            expiry_errors.append(exc)

    exp_thread = threading.Thread(target=_expiry_loop, daemon=True)
    sched = CompactionScheduler(
        t, CompactionPolicy(max_delta_files=1), interval_sec=0.05
    )
    n_batches, keys = 8, 12
    expected: dict[str, tuple] = {}
    sched.start()
    exp_thread.start()
    try:
        for b in range(n_batches):
            rows = []
            for k in range(keys):
                key = f"k{k}"
                seq = b * keys + k
                op = "D" if (b == n_batches - 1 and k % 5 == 0) else "U"
                rows.append((key, float(seq), 1000 + seq, seq, op))
                if op == "D":
                    expected.pop(key, None)
                else:
                    expected[key] = (float(seq), 1000 + seq)
            t.merge_apply(_changes(spark, rows), batch_id=f"stress-{b}")
    finally:
        stop.set()
        exp_thread.join(timeout=60)
        sched.stop(final_cycle=True)
    assert not expiry_errors, expiry_errors
    assert sum(expired_counts) > 0  # expiry really ran during ingest

    got = {r.k: (r.v, r.ts) for r in t.read().collect()}
    assert got == expected  # no lost commits, no resurrected deletes

    # every retained snapshot is still readable (expired ones are gone)
    for sid in t.snapshot_ids():
        df = t.read_at(sid)
        assert df is not None
        df.count()  # materializes: all referenced files must exist


# --- rollback, tags, metadata tables (Iceberg refs/.snapshots analog) ------


def test_rollback_restores_state_and_batch_ledger(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "rb"))
    t.merge_apply(_changes(spark, [("a", 1.0, 100, 1, "U")]), batch_id="b1")
    keep = t.snapshot_id()
    t.merge_apply(_changes(spark, [("a", 2.0, 200, 2, "U"),
                                   ("b", 9.0, 201, 3, "U")]), batch_id="b2")
    assert {r.k: r.v for r in t.read().collect()} == {"a": 2.0, "b": 9.0}

    res = t.rollback(keep)
    assert res["rolled_back_to"] == keep
    # history moved FORWARD, state moved BACK
    assert t.snapshot_id() > keep
    assert {r.k: r.v for r in t.read().collect()} == {"a": 1.0}
    # the undone batch left the ledger -> re-applying it is NOT a duplicate
    assert "b2" not in t.committed_batches()
    out = t.merge_apply(
        _changes(spark, [("a", 2.0, 200, 2, "U"), ("b", 9.0, 201, 3, "U")]),
        batch_id="b2",
    )
    assert "skipped_duplicate_batch" not in out
    assert {r.k: r.v for r in t.read().collect()} == {"a": 2.0, "b": 9.0}


def test_tag_pins_snapshot_through_expiry(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "tag"))
    for i in range(5):
        t.merge_apply(
            _changes(spark, [(f"k{i}", float(i), 100 + i, i, "U")]),
            batch_id=f"b{i}",
        )
    audited = t.snapshot_ids()[2]
    t.tag("audited", audited)
    t.expire_snapshots(keep_last=1, grace_seconds=0.0)
    # the tagged snapshot survived outside the keep_last window
    assert audited in t.snapshot_ids()
    by_tag = {r.k for r in t.read_at("audited").collect()}
    assert by_tag == {r.k for r in t.read_at(audited).collect()}
    # its files survived GC too (read_at above would fail otherwise); untag
    # releases the pin and the next expiry collects it
    t.untag("audited")
    t.expire_snapshots(keep_last=1, grace_seconds=0.0)
    assert audited not in t.snapshot_ids()
    import pytest

    with pytest.raises(ValueError):
        t.read_at("audited")


def test_rollback_to_tag_and_unknown_tag_raises(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "rbt"))
    t.merge_apply(_changes(spark, [("a", 1.0, 100, 1, "U")]), batch_id="b1")
    t.tag("good")
    t.merge_apply(_changes(spark, [("a", 7.0, 200, 2, "U")]), batch_id="bad")
    t.rollback("good")
    assert {r.k: r.v for r in t.read().collect()} == {"a": 1.0}
    import pytest

    with pytest.raises(ValueError):
        t.rollback("nope")


def test_meta_tables(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "meta"), write_mode="mor")
    t.merge_apply(_changes(spark, [("a", 1.0, 100, 1, "U"),
                                   ("b", 2.0, 101, 2, "U")]), batch_id="b1")
    t.merge_apply(_changes(spark, [("a", 3.0, 300, 3, "U")]), batch_id="b2")
    snaps = {r.snapshot_id: r for r in t.meta_snapshots().collect()}
    assert set(snaps) == set(t.snapshot_ids())
    cur = snaps[t.snapshot_id()]
    assert cur.n_rows == 3 and cur.n_batches == 2
    files = t.meta_files().collect()
    assert sum(r.rows for r in files) == 3
    # footer lww bounds recorded on every file, ordered, and within range
    assert all(r.lww_min is not None and r.lww_min <= r.lww_max for r in files)
    assert max(r.lww_max for r in files) == 300
    # lineage history table: one ordered row per commit record
    lin = t.meta_lineage().orderBy("ordinal").collect()
    assert [r.batch_id for r in lin if r.mode == "mor"] == ["b1", "b2"]
    assert all(r.metrics["rows_appended"] >= 1 for r in lin if r.mode == "mor")
    import json as _json

    assert _json.loads(lin[0].detail)["batch_id"] == "b1"


def test_failed_snapshot_write_leaves_no_torn_snapshot(spark, tmp_path, monkeypatch):
    """A snapshot JSON whose write fails partway (a full disk) leaves no
    snap-*.json for that id: the listings see only committed snapshots, and
    the next commit takes the id."""
    import builtins

    import pytest

    from pentaho_kettle_spark.tableio import parquet_snapshot as PS

    root = str(tmp_path / "torn")
    t = _mk(spark, root, write_mode="mor")
    t.merge_apply(_changes(spark, [("a", 1.0, 100, 1, "U")]), batch_id="b1")
    committed = t.snapshot_ids()

    class _HalfWrite:
        def __init__(self, f):
            self.f = f

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

        def write(self, text):
            self.f.write(text[: len(text) // 2])
            raise OSError(28, "No space left on device")

    def _open(path, mode="r", *a, **kw):
        f = builtins.open(path, mode, *a, **kw)
        is_snap = os.path.basename(str(path)).startswith("snap-")
        return _HalfWrite(f) if is_snap and "w" in mode else f

    monkeypatch.setattr(PS, "open", _open, raising=False)
    with pytest.raises(OSError, match="No space left"):
        t.merge_apply(_changes(spark, [("b", 2.0, 200, 2, "U")]), batch_id="b2")
    monkeypatch.undo()

    nxt = f"snap-{committed[-1] + 1:06d}.json"
    assert not [fn for fn in os.listdir(os.path.join(root, "snapshots")) if fn.startswith(nxt)]
    assert t.snapshot_ids() == committed
    assert [r.snapshot_id for r in t.meta_snapshots().collect()] == committed
    t.merge_apply(_changes(spark, [("b", 2.0, 200, 2, "U")]), batch_id="b2")
    assert t.snapshot_ids() == [*committed, committed[-1] + 1]
    assert sorted(r.k for r in t.read().collect()) == ["a", "b"]


# --- bucket-layout evolution ----------------------------------------------


def test_reopen_adopts_manifest_layout(spark, tmp_path):
    root = str(tmp_path / "layout")
    t = _mk(spark, root)  # n_buckets=4 seeds the NEW table
    t.merge_apply(_changes(spark, [("a", 1.0, 100, 1, "U"),
                                   ("b", 2.0, 101, 2, "U")]), batch_id="b1")
    # reopening with a different constructor value must NOT change the
    # layout — otherwise new rows hash into different buckets than the
    # files on disk and the bucket-pruned merge misses existing keys
    t2 = ParquetSnapshotTableIO(
        spark, root, key_cols=("k",), lww_col="ts", n_buckets=64
    )
    assert t2.n_buckets == 4
    t2.merge_apply(_changes(spark, [("a", 9.0, 200, 3, "U")]), batch_id="b2")
    rows = t2.read().collect()
    assert len(rows) == 2  # no duplicate "a"
    assert {r.k: r.v for r in rows} == {"a": 9.0, "b": 2.0}


def test_rebucket_preserves_state_and_future_merges(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "rbk"), write_mode="mor",
            compact_delta_files=64)
    t.merge_apply(_changes(spark, [(f"k{i}", float(i), 100 + i, i, "U")
                                   for i in range(20)]), batch_id="b1")
    t.merge_apply(_changes(spark, [("k3", 33.0, 300, 100, "U"),
                                   ("k5", None, 301, 101, "D")]), batch_id="b2")
    before = {r.k: r.v for r in t.read().collect()}
    pre = t.snapshot_id()

    res = t.rebucket(11)
    assert (res["from_buckets"], res["to_buckets"]) == (4, 11)
    assert t.n_buckets == 11
    assert t.current_manifest()["n_buckets"] == 11
    assert {r.k: r.v for r in t.read().collect()} == before
    # tombstone survived the rewrite: re-delivering an OLDER update for the
    # deleted key must still lose
    t.merge_apply(_changes(spark, [("k5", 5.0, 150, 5, "U")]), batch_id="b3")
    assert "k5" not in {r.k for r in t.read().collect()}
    # new layout actually used, and merges in it stay correct
    assert all(0 <= r.bucket < 11 for r in t.meta_files().collect())
    t.merge_apply(_changes(spark, [("k3", 44.0, 400, 200, "U")]), batch_id="b4")
    got = {r.k: r.v for r in t.read().collect()}
    assert got["k3"] == 44.0 and len(got) == len(before)
    # time travel to the pre-rebucket snapshot still reads the old layout
    assert {r.k: r.v for r in t.read_at(pre).collect()} == before


def test_rebucket_conflicting_commit_raises(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "rbc"))
    t.merge_apply(_changes(spark, [("a", 1.0, 100, 1, "U")]), batch_id="b1")
    orig = t._write_buckets

    def _race(*a, **kw):
        out = orig(*a, **kw)
        # a concurrent ingest lands between the rewrite and the swap
        # (unpatch first: merge_apply itself calls _write_buckets)
        t._write_buckets = orig
        t.merge_apply(_changes(spark, [("z", 9.0, 900, 9, "U")]), batch_id="bz")
        return out

    t._write_buckets = _race
    import pytest

    try:
        with pytest.raises(RuntimeError, match="rebucket conflict"):
            t.rebucket(8)
    finally:
        t._write_buckets = orig
    # failed rebucket rolled the in-memory layout back and lost nothing
    assert t.n_buckets == 4
    assert {r.k for r in t.read().collect()} == {"a", "z"}


def test_optimize_one_call_sweep(spark, tmp_path):
    """optimize(): folds due buckets, expires tombstones past the
    watermark, drops old snapshots + GCs — state unchanged for readers."""
    from pentaho_kettle_spark.tableio.compaction import CompactionPolicy, optimize

    t = _mk(spark, str(tmp_path / "topt"), write_mode="mor",
            compact_delta_files=None)
    for b in range(5):
        rows = [(f"k{k}", float(b * 10 + k), 100 + k, b * 10 + k,
                 "D" if (b == 2 and k == 0) else "U") for k in range(6)]
        t.merge_apply(_changes(spark, rows), batch_id=f"opt-{b}")
    before = {r.k: (r.v, r.ts) for r in t.read().collect()}
    res = optimize(
        t, CompactionPolicy(max_delta_files=1), keep_last=2,
        grace_seconds=0.0, tombstone_watermark=1e9,
    )
    assert res["compacted_buckets"]  # folds ran
    assert res["expired_snapshots"]  # history trimmed
    assert {r.k: (r.v, r.ts) for r in t.read().collect()} == before
    assert len(t.snapshot_ids()) <= 3  # keep_last=2 (+ the optimize commits)
    # tombstones physically gone (watermark covers every delete)
    assert t.read_full().filter("_deleted").count() == 0
