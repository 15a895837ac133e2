"""Commit write amplification of the two-level manifest layout.

A table with thousands of buckets and tens of thousands of file entries
must not rewrite its full inventory per commit: a snapshot JSON holds
per-bucket pointers plus a bounded inline ledger tail, and a single-bucket
commit writes one new content-addressed bucket manifest. Metadata only — no
Spark session, no data files.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.types as T

from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
N_BUCKETS, FILES_PER_BUCKET, COMMITS = 512, 8, 50


def _entry(b: int, i: int) -> dict:
    return {
        "path": f"data/w-{b:04x}{i:08x}/_bucket={b}/part-00000.parquet",
        "schema_version": 0,
        "rows": 10_000 + i,
        "kind": "base",
        "lww_min": 1_700_000_000_000_000 + i,
        "lww_max": 1_700_000_100_000_000 + i,
    }


def _tree_bytes(root) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _dn, fns in os.walk(root) for f in fns
    )


def _bytes_per_commit(t, root, first: int, ledger: bool) -> float:
    """Commit COMMITS single-bucket changes (each appending to the batch
    ledgers when `ledger`); the metadata bytes written per commit."""
    before = _tree_bytes(root)
    for c in range(first, first + COMMITS):

        def touch(cur: dict, c=c) -> dict:
            out = dict(cur)
            b = str(c % N_BUCKETS)
            out["files"] = {**cur["files"], b: [*cur["files"][b], _entry(int(b), 1_000_000 + c)]}
            if ledger:
                out["committed_batches"] = [*cur["committed_batches"], f"x{c}"]
                out["lineage"] = [*cur["lineage"], {"batch_id": f"x{c}", "mode": "mor"}]
            return out

        t._commit_mutation(touch)
    return (_tree_bytes(root) - before) / COMMITS


def _seed_history(t, n: int) -> None:
    def seed(cur: dict) -> dict:
        out = dict(cur)
        out["committed_batches"] = [f"hist-{i}" for i in range(n)]
        out["lineage"] = [{"batch_id": f"hist-{i}", "mode": "mor"} for i in range(n)]
        return out

    t._commit_mutation(seed)


def test_single_bucket_commit_writes_a_small_share_flat_in_history(tmp_path):
    root = tmp_path / "t"
    t = ParquetSnapshotTableIO(None, str(root), n_buckets=N_BUCKETS)
    t.init_empty(SCHEMA)

    def seed(cur: dict) -> dict:
        out = dict(cur)
        out["files"] = {
            str(b): [_entry(b, i) for i in range(FILES_PER_BUCKET)] for b in range(N_BUCKETS)
        }
        return out

    t._commit_mutation(seed)
    inline = len(json.dumps(t.current_manifest()["files"], separators=(",", ":")))
    per_commit = _bytes_per_commit(t, root, 0, ledger=False)
    assert per_commit <= 0.05 * inline, (per_commit, inline)

    # 5000 and 9096 batches sit at the same position (904) in the
    # 1024-entry inline ledger tail: older entries live in frozen segments,
    # so a commit's bytes must not grow with the history behind it
    _seed_history(t, 5000)
    shallow = _bytes_per_commit(t, root, COMMITS, ledger=True)
    _seed_history(t, 9096)
    deep = _bytes_per_commit(t, root, 2 * COMMITS, ledger=True)
    assert abs(deep - shallow) < 1024, (shallow, deep)
