"""TableIO lifecycle: bootstrap, tombstone semantics across batches,
compaction, lineage, bucket pruning."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _chg(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts timestamp, op string, _seq long"
    )


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_tombstone_blocks_older_update_across_batches(spark, tmp_path):
    t = ParquetSnapshotTableIO(spark, str(tmp_path / "t"), n_buckets=4)
    t.init_empty(SCHEMA)
    t.merge_apply(_chg(spark, [("c1", 0, "hello", _ts("2026-01-01T00:00:10"), "U", 10)]), "b1")
    # delete at ts=20
    t.merge_apply(_chg(spark, [("c1", 0, None, _ts("2026-01-01T00:00:20"), "D", 20)]), "b2")
    assert t.read().count() == 0
    # late update with OLDER ts arrives in a later batch → must stay dead
    t.merge_apply(_chg(spark, [("c1", 0, "zombie", _ts("2026-01-01T00:00:15"), "U", 15)]), "b3")
    assert t.read().count() == 0
    # newer update resurrects
    t.merge_apply(_chg(spark, [("c1", 0, "alive", _ts("2026-01-01T00:00:30"), "U", 30)]), "b4")
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].text == "alive"


def test_expire_tombstones_compacts(spark, tmp_path):
    t = ParquetSnapshotTableIO(spark, str(tmp_path / "t"), n_buckets=4)
    t.init_empty(SCHEMA)
    t.merge_apply(
        _chg(spark, [
            ("c1", 0, "a", _ts("2026-01-01T00:00:01"), "U", 1),
            ("c2", 0, "b", _ts("2026-01-01T00:00:02"), "U", 2),
        ]),
        "b1",
    )
    t.merge_apply(_chg(spark, [("c1", 0, None, _ts("2026-01-01T00:00:05"), "D", 5)]), "b2")
    assert t.read_full().count() == 2  # one live + one tombstone
    t.expire_tombstones()
    assert t.read_full().count() == 1
    assert t.read().count() == 1


def test_lineage_and_bucket_pruning(spark, tmp_path):
    t = ParquetSnapshotTableIO(spark, str(tmp_path / "t"), n_buckets=8)
    t.init_empty(SCHEMA)
    rows = [(f"c{i}", 0, f"t{i}", _ts("2026-01-01T00:00:01"), "U", i) for i in range(50)]
    t.merge_apply(_chg(spark, rows), "b1")
    # single-key update touches exactly one bucket
    rec = t.merge_apply(
        _chg(spark, [("c7", 0, "t7b", _ts("2026-01-01T00:00:09"), "U", 99)]), "b2"
    )
    assert len(rec["touched_buckets"]) == 1
    assert rec["metrics"]["updated"] == 1
    assert rec["metrics"]["inserted"] == 0
    m = t.current_manifest()
    assert [r["batch_id"] for r in m["lineage"]] == ["b1", "b2"]
    # untouched buckets carried forward by reference: their files predate b2
    untouched = [b for b in m["files"] if int(b) not in rec["touched_buckets"]]
    assert untouched
    assert all(
        f"snap-{m['snapshot_id']:06d}" not in e["path"]
        for b in untouched
        for e in m["files"][b]
    )
    assert t.read().count() == 50


def test_mor_lineage_metrics_deterministic(spark, tmp_path):
    """MoR lineage counters are footer-derived (not Observation): replaying
    identical batches into two fresh tables yields identical metrics, and the
    numbers equal first-principles counts of the collapsed batch."""
    batches = [
        [
            ("c1", 0, "a", _ts("2026-01-01T00:00:01"), "U", 1),
            ("c2", 0, "b", _ts("2026-01-01T00:00:02"), "U", 2),
            ("c3", 0, None, _ts("2026-01-01T00:00:03"), "D", 3),
        ],
        [
            ("c1", 0, None, _ts("2026-01-01T00:00:05"), "D", 5),
            ("c4", 0, "d", _ts("2026-01-01T00:00:06"), "U", 6),
        ],
    ]
    runs = []
    for run in ("x", "y"):
        t = ParquetSnapshotTableIO(
            spark, str(tmp_path / f"t{run}"), n_buckets=4, write_mode="mor",
            compact_delta_files=None,
        )
        t.init_empty(SCHEMA)
        for i, rows in enumerate(batches):
            t.merge_apply(_chg(spark, rows), f"b{i}")
        runs.append(
            [(r["batch_id"], r["metrics"]) for r in t.current_manifest()["lineage"]]
        )
    assert runs[0] == runs[1]
    assert runs[0][0][1] == {"rows_appended": 3, "tombstones": 1}
    assert runs[0][1][1] == {"rows_appended": 2, "tombstones": 1}


def test_overwrite_bootstrap(spark, tmp_path):
    t = ParquetSnapshotTableIO(spark, str(tmp_path / "t"), n_buckets=4)
    df = spark.createDataFrame(
        [("c1", 0, "x", _ts("2026-01-01T00:00:00"))], SCHEMA
    )
    t.init_empty(SCHEMA)
    t.overwrite(df, batch_id="bootstrap")
    assert t.read().count() == 1
    # snapshot load then incremental on top
    t.merge_apply(_chg(spark, [("c2", 1, "y", _ts("2026-01-01T00:01:00"), "U", 1)]), "b1")
    assert t.read().count() == 2


def test_two_level_manifests_reuse_and_gc(spark, tmp_path):
    """Commit IO is O(changed buckets): the snapshot JSON stores per-bucket
    pointers to content-addressed bucket manifests; a batch touching one
    bucket writes ONE new bucket manifest and reuses every other pointer
    verbatim, and expire_snapshots GCs bucket manifests no retained
    snapshot references."""
    import json
    import os

    root = str(tmp_path / "t2l")
    t = ParquetSnapshotTableIO(spark, root, n_buckets=4)
    t.init_empty(SCHEMA)
    rows = [
        (f"c{i}", 0, f"t{i}", _ts("2026-01-01T00:00:01"), "U", i) for i in range(40)
    ]
    t.merge_apply(_chg(spark, rows), "b1")
    rec = t.merge_apply(
        _chg(spark, [("c7", 0, "t7b", _ts("2026-01-01T00:00:09"), "U", 99)]), "b2"
    )
    assert len(rec["touched_buckets"]) == 1

    def _raw(sid):
        with open(os.path.join(root, "snapshots", f"snap-{sid:06d}.json")) as f:
            return json.load(f)

    sid = t.snapshot_id()
    raw2, raw1 = _raw(sid), _raw(sid - 1)
    # two-level layout: snapshot JSON carries pointers, not file entries
    assert "files" not in raw2 and "files_manifests" in raw2
    touched = {str(b) for b in rec["touched_buckets"]}
    for b, fn in raw1["files_manifests"].items():
        if b in touched:
            assert raw2["files_manifests"][b] != fn
        else:  # untouched buckets reuse the SAME manifest file (no rewrite)
            assert raw2["files_manifests"][b] == fn
    # materialized view is unchanged for callers
    m = t.current_manifest()
    assert set(m["files"]) == set(raw2["files_manifests"])
    assert t.read().count() == 40

    # GC: expire everything but the head; only its manifests survive
    t.expire_snapshots(keep_last=1, grace_seconds=0.0)
    live = set(raw2["files_manifests"].values())
    on_disk = {
        fn for fn in os.listdir(os.path.join(root, "manifests"))
        if fn.endswith(".json")
    }
    assert on_disk == live
    assert t.read().count() == 40
    # fresh handle (cold cache) resolves the same state
    t2 = ParquetSnapshotTableIO(spark, root)
    assert t2.read().count() == 40


def test_ledger_segments_spill_and_roundtrip(tmp_path):
    """lineage/committed_batches ledgers spill full 1024-entry segments to
    content-addressed files: the snapshot JSON carries only the partial
    tail (O(1) amortized commit IO, not O(batches)), consecutive commits
    reuse the frozen segments verbatim, and readers see the full
    materialized lists."""
    import json
    import os

    root = str(tmp_path / "tledger")
    t = ParquetSnapshotTableIO(None, root, n_buckets=4)
    t.init_empty(SCHEMA)
    n = 2600  # → 2 frozen segments + 552-entry tail

    def _add(c):
        def _mut(cur):
            out = dict(cur)
            out["committed_batches"] = [*cur["committed_batches"], f"b{c}"]
            out["lineage"] = [*cur["lineage"], {"batch_id": f"b{c}", "mode": "mor"}]
            return out
        return _mut

    for c in range(n):
        t._commit_mutation(_add(c))

    sid = t.snapshot_id()
    with open(os.path.join(root, "snapshots", f"snap-{sid:06d}.json")) as f:
        raw = json.load(f)
    assert len(raw["committed_batches_segments"]) == 2
    assert len(raw["committed_batches"]) == n - 2048
    assert len(raw["lineage_segments"]) == 2
    # frozen segments are reused verbatim by the previous commit
    with open(os.path.join(root, "snapshots", f"snap-{sid - 1:06d}.json")) as f:
        prev = json.load(f)
    assert prev["committed_batches_segments"] == raw["committed_batches_segments"]
    # materialized view is complete and ordered
    assert t.committed_batches() == {f"b{c}" for c in range(n)}
    m = t.current_manifest()
    assert [r["batch_id"] for r in m["lineage"]] == [f"b{c}" for c in range(n)]
    # a fresh handle (cold cache) reads the same ledger
    t2 = ParquetSnapshotTableIO(None, root, n_buckets=4)
    assert len(t2.current_manifest()["lineage"]) == n


def test_read_key_point_lookup_scans_one_bucket(spark, tmp_path):
    """read_key: O(one bucket) serving-side lookup — manifest lists only
    the key's bucket, and the key equality predicate is pushed through the
    LWW collapse into the parquet scan (row-group stats skip the rest)."""
    from pentaho_kettle_spark.plans.explain import pushed_filters

    t = ParquetSnapshotTableIO(
        spark, str(tmp_path / "tpk"), n_buckets=8, write_mode="mor",
        compact_delta_files=None,
    )
    t.init_empty(SCHEMA)
    rows = [
        (f"c{i}", j, f"t{i}.{j}", _ts("2026-01-01T00:00:01"), "U", i * 10 + j)
        for i in range(30)
        for j in range(3)
    ]
    t.merge_apply(_chg(spark, rows), "b1")
    # newer version of one turn + a tombstone on another conversation
    t.merge_apply(
        _chg(spark, [
            ("c7", 1, "t7.1-new", _ts("2026-01-01T00:00:09"), "U", 900),
            ("c9", 0, None, _ts("2026-01-01T00:00:09"), "D", 901),
        ]),
        "b2",
    )
    df = t.read_key("c7")
    got = {(r.turn_idx, r.text) for r in df.collect()}
    assert got == {(0, "t7.0"), (1, "t7.1-new"), (2, "t7.2")}
    # only c7's bucket was listed from the manifest
    m = t.current_manifest()
    total_files = sum(len(es) for es in m["files"].values())
    scanned = m and (t.last_scan["files_total"])
    assert scanned < total_files
    # the equality predicate reached the parquet scan
    assert any("conv_id" in f for f in pushed_filters(df))
    # the tombstoned turn is suppressed; the conversation's other turns live
    assert {r.turn_idx for r in t.read_key("c9").collect()} == {1, 2}


@pytest.mark.parametrize("key_type", ["int", "bigint"])
def test_read_key_numeric_key_hits_one_bucket(spark, tmp_path, key_type):
    """read_key on a table whose first key column is numeric: xxhash64 is
    type-sensitive, so the lookup literal must be hashed under the column's
    own type to land in the bucket the writer chose."""
    t = ParquetSnapshotTableIO(
        spark, str(tmp_path / key_type), key_cols=("cid", "turn_idx"),
        n_buckets=8, write_mode="mor", compact_delta_files=None,
    )
    t.init_empty(T.StructType([
        T.StructField("cid", T.IntegerType() if key_type == "int" else T.LongType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]))
    schema = f"cid {key_type}, turn_idx int, text string, ts timestamp, op string, _seq long"
    rows = [(c, i, f"t{c}.{i}", _ts("2026-01-01T00:00:01"), "U", c * 10 + i)
            for c in range(40) for i in range(2)]
    t.merge_apply(spark.createDataFrame(rows, schema), "b1")
    t.merge_apply(spark.createDataFrame(
        [(7, 1, "t7.1-new", _ts("2026-01-01T00:00:09"), "U", 900)], schema), "b2")

    got = sorted((r.cid, r.turn_idx, r.text) for r in t.read_key(7).collect())
    assert got == [(7, 0, "t7.0"), (7, 1, "t7.1-new")]
    # exactly the files of the key's own bucket were scanned
    m = t.current_manifest()
    b = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(7).cast(key_type)), F.lit(8)).alias("b")
    ).first()["b"]
    assert t.last_scan["files_total"] == len(m["files"][str(b)])


def test_branch_write_audit_publish(spark, tmp_path):
    """Iceberg-branch WAP: commits staged on a branch are invisible to
    main until fast_forward; divergence fails the publish; expiry pins
    branch heads."""
    import pytest as _pytest

    t = ParquetSnapshotTableIO(
        spark, str(tmp_path / "tbr"), n_buckets=4, write_mode="mor",
        compact_delta_files=None,
    )
    t.init_empty(SCHEMA)
    t.merge_apply(
        _chg(spark, [(f"c{i}", 0, f"a{i}", _ts("2026-01-01T00:00:01"), "U", i)
                     for i in range(10)]),
        "wap-a",
    )
    br = t.branch("audit")
    br.merge_apply(
        _chg(spark, [(f"c{i}", 1, f"b{i}", _ts("2026-01-01T00:00:02"), "U", 100 + i)
                     for i in range(10)]),
        "wap-b",
    )
    # staged commits invisible to main; visible on the branch
    assert t.read().count() == 10
    assert br.read().count() == 20
    assert "wap-b" not in t.committed_batches()
    assert "wap-b" in br.committed_batches()
    # publish: pointer swap only
    res = t.fast_forward("audit")
    assert res["fast_forwarded_to"] == br.snapshot_id()
    assert t.read().count() == 20
    assert "wap-b" in t.committed_batches()

    # divergence: a commit on main after the fork fails the fast-forward
    br2 = t.branch("audit2")
    br2.merge_apply(
        _chg(spark, [("cX", 0, "x", _ts("2026-01-01T00:00:03"), "U", 500)]), "d1"
    )
    t.merge_apply(
        _chg(spark, [("cY", 0, "y", _ts("2026-01-01T00:00:03"), "U", 501)]), "d2"
    )
    with _pytest.raises(RuntimeError, match="not an ancestor"):
        t.fast_forward("audit2")

    # expiry pins the (now diverged) branch head and its files
    for i in range(4):
        t.merge_apply(
            _chg(spark, [("cZ", i, f"z{i}", _ts("2026-01-01T00:00:04"), "U", 600 + i)]),
            f"adv-{i}",
        )
    t.expire_snapshots(keep_last=1, grace_seconds=0.0)
    assert br2.read().count() == 21  # branch state fully readable post-expiry
    t.drop_branch("audit2")
    assert "audit2" not in t.branches()


def test_delete_where_and_retention(spark, tmp_path):
    """Bulk predicate delete rides the merge path: matched live rows get
    tombstones that beat exactly the erased version (same lww, next seq) —
    older zombies stay dead, genuinely newer updates still win."""
    t = ParquetSnapshotTableIO(
        spark, str(tmp_path / "tdw"), n_buckets=4, write_mode="mor",
        compact_delta_files=None,
    )
    t.init_empty(SCHEMA)
    t.merge_apply(
        _chg(spark, [
            ("c1", 0, "keep", _ts("2026-01-01T00:00:01"), "U", 1),
            ("c2", 0, "erase-me", _ts("2026-01-01T00:00:02"), "U", 2),
            ("c3", 0, "erase-me", _ts("2026-01-01T00:00:03"), "U", 3),
            ("c4", 0, "old", _ts("2025-06-01T00:00:00"), "U", 4),
        ]),
        "b1",
    )
    rec = t.delete_where("text = 'erase-me'", batch_id="gdpr-1")
    assert rec["metrics"]["tombstones"] == 2
    assert {r.conv_id for r in t.read().collect()} == {"c1", "c4"}
    # exactly-once: same batch id skips
    assert "skipped_duplicate_batch" in t.delete_where(
        "text = 'erase-me'", batch_id="gdpr-1"
    )
    # an older replayed update of an erased key stays dead...
    t.merge_apply(
        _chg(spark, [("c2", 0, "zombie", _ts("2026-01-01T00:00:01"), "U", 1)]), "b2"
    )
    assert "c2" not in {r.conv_id for r in t.read().collect()}
    # ...a genuinely newer update wins over the tombstone
    t.merge_apply(
        _chg(spark, [("c3", 0, "reborn", _ts("2026-01-02T00:00:00"), "U", 50)]), "b3"
    )
    assert {r.text for r in t.read().collect()} == {"keep", "old", "reborn"}
    # retention sweep erases keys whose winner is older than the cutoff
    t.delete_older_than(_ts("2026-01-01T00:00:00"), batch_id="ret-1")
    assert {r.text for r in t.read().collect()} == {"keep", "reborn"}


def test_patch_apply_partial_columns(spark, tmp_path):
    """Sparse upserts: NULL columns inherit from the live stored row,
    patches fold column-wise within a batch, stale patches drop whole, and
    values never leak through a tombstone."""
    schema4 = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("tool", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def _p(rows):
        return spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp, _seq long",
        )

    def _c(rows):
        return spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp, op string, _seq long",
        )

    t = ParquetSnapshotTableIO(
        spark, str(tmp_path / "tpatch"), key_cols=("conv_id", "turn_idx"),
        n_buckets=4, write_mode="mor", compact_delta_files=None,
    )
    t.init_empty(schema4)
    t.merge_apply(
        _c([("c1", 0, "user", "hello", None, _ts("2026-01-01T00:00:01"), "U", 1)]),
        "b1",
    )
    # patch only text; role survives
    t.patch_apply(
        _p([("c1", 0, None, "hello v2", None, _ts("2026-01-01T00:00:02"), 2)]), "p1"
    )
    r = t.read().collect()[0]
    assert (r.role, r.text, r.tool) == ("user", "hello v2", None)
    # patch only tool; text v2 survives
    t.patch_apply(
        _p([("c1", 0, None, None, "calc", _ts("2026-01-01T00:00:03"), 3)]), "p2"
    )
    r = t.read().collect()[0]
    assert (r.role, r.text, r.tool) == ("user", "hello v2", "calc")
    # stale patch (older than stored winner) drops whole — no column applies
    t.patch_apply(
        _p([("c1", 0, "ghost", "ghost", None, _ts("2026-01-01T00:00:01"), 9)]), "p3"
    )
    r = t.read().collect()[0]
    assert (r.role, r.text, r.tool) == ("user", "hello v2", "calc")
    # within-batch column-wise fold: text from T6, role from T7
    t.patch_apply(
        _p([
            ("c1", 0, None, "from-t6", None, _ts("2026-01-01T00:00:06"), 6),
            ("c1", 0, "system", None, None, _ts("2026-01-01T00:00:07"), 7),
        ]),
        "p4",
    )
    r = t.read().collect()[0]
    assert (r.role, r.text, r.tool) == ("system", "from-t6", "calc")
    # no inheritance through a tombstone
    t.merge_apply(
        _c([("c1", 0, None, None, None, _ts("2026-01-01T00:00:08"), "D", 8)]), "b2"
    )
    t.patch_apply(
        _p([("c1", 0, None, "reborn", None, _ts("2026-01-01T00:00:09"), 10)]), "p5"
    )
    r = t.read().collect()[0]
    assert (r.role, r.text, r.tool) == (None, "reborn", None)
    # exactly-once batch skip
    assert "skipped_duplicate_batch" in t.patch_apply(
        _p([("c1", 0, "x", None, None, _ts("2026-01-01T00:00:10"), 11)]), "p5"
    )


def test_cow_merge_collapses_multi_event_batch(spark, tmp_path):
    """A CoW batch carrying several events for one key must resolve to the
    per-key (ts, seq) winner, not duplicate the key in the rewritten bucket
    (found by the writer-vs-writer property fuzz: the later-seq event had an
    EARLIER ts, and the uncollapsed join wrote both rows). MoR has always
    resolved this at fold time; the CoW path now collapses up front unless
    the caller passes assume_collapsed=True (replay_changelog's fused plans)."""
    root = str(tmp_path / "cow_multi")
    t = ParquetSnapshotTableIO(spark, root, key_cols=("conv_id", "turn_idx"),
                               n_buckets=2, write_mode="cow")
    t.init_empty(SCHEMA)
    t.merge_apply(_chg(spark, [
        # same key: seq 7 is newer in the log but carries an older ts —
        # LWW on (ts, seq) must keep seq 6's text
        ("c1", 0, "winner", _ts("2024-01-01T00:01:35"), "U", 6),
        ("c1", 0, "stale", _ts("2024-01-01T00:00:50"), "U", 7),
        ("c2", 0, "only", _ts("2024-01-01T00:00:01"), "U", 8),
    ]), batch_id="b1")
    rows = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert rows == {("c1", 0): "winner", ("c2", 0): "only"}
    # a delete that wins within the batch removes the key entirely
    t.merge_apply(_chg(spark, [
        ("c2", 0, "resurrect", _ts("2024-01-01T00:02:00"), "U", 9),
        ("c2", 0, None, _ts("2024-01-01T00:03:00"), "D", 10),
    ]), batch_id="b2")
    assert {r.conv_id for r in t.read().collect()} == {"c1"}
