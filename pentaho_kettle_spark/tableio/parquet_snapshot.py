"""Iceberg-semantics table IO on plain Parquet — the sandbox fallback.

No Iceberg runtime jar exists in this environment (and no network), so this
module implements the Iceberg behaviors the CDC engine needs, the same way
Iceberg does them, over parquet files + JSON manifests:

  * **Atomic snapshot commit**: data files are written first, then a manifest
    (`snapshots/snap-N.json`) listing them, then the `_current` pointer is
    swapped via `os.rename` (atomic on POSIX). Readers always see a complete
    snapshot; a crashed writer leaves only orphan files, never a torn table.
  * **Copy-on-write MERGE at bucket granularity**: the table is hash-bucketed
    by `conv_id` (`pmod(xxhash64(conv_id), n_buckets)`). A merge rewrites ONLY
    the buckets containing changed keys; untouched buckets carry their old
    files forward by manifest reference. At 100 TB with 4096 buckets, a batch
    touching 1% of conversations rewrites ~1% of the table.
  * **Schema evolution by field id** (add / rename / type-widen): the manifest
    stores `{id, name, type}` per column plus a version history; every data
    file records the schema version it was written under, and the reader
    reconciles old files to the current schema by id (rename = same id new
    name, add = null-fill, widen = cast). Mirrors Iceberg's name-mapping.
  * **Exactly-once batch apply**: the manifest records committed batch ids; a
    re-delivered `foreachBatch` epoch is detected and skipped. Independently,
    rows carry `(_seq)` and merges are LWW on `(ts, _seq)`, so even a forced
    re-apply is idempotent.
  * **Tombstones**: deletes keep the key with `_deleted=true` so an
    out-of-order update older than the delete still loses across batch
    boundaries. `read()` filters them; `expire_tombstones()` compacts.

Reference parity: this replaces Kettle's row-at-a-time JDBC upsert trio —
insertupdate/InsertUpdate.java, update/Update.java, delete/Delete.java and
synchronizeaftermerge/SynchronizeAfterMerge.java (SURVEY §2.1) — with one
set-oriented MERGE. The real-Iceberg path (tableio/iceberg.py) issues
`MERGE INTO` SQL with the same collapse stage when the runtime jar is present.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SYS_SEQ = "_seq"
SYS_DELETED = "_deleted"
SYS_COLS = (SYS_SEQ, SYS_DELETED)

# A LIVE writer's uncommitted data dir is protected from orphan GC by an
# in-flight marker (`<root>/_inflight/w-<uuid>`) regardless of the caller's
# grace_seconds — grace alone can't distinguish "young orphan from a crash"
# from "another process mid-commit" when the operator passes grace=0. A
# marker older than this TTL is presumed crashed/aborted (a healthy writer
# commits its batch in seconds-to-minutes) and its files fall back to the
# normal grace-aged orphan path.
INFLIGHT_TTL = 6 * 3600.0

# The arrow fold holds a bucket's pinned files in driver memory; buckets
# above this size take the Spark fold.
ARROW_FOLD_MAX_BYTES = 256 * 1024 * 1024

import re as _re

_BRANCH_NAME_RE = _re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")


def _atomic_write(path: str, text: str) -> None:
    """Replace `path` with `text` through a temp file and an atomic rename
    (POSIX): readers see the old content or the new, never a torn file."""
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, path)


def _del_rows(pf) -> int:
    """Tombstone count of a just-written parquet file: row-group statistics
    on the boolean `_deleted` column decide all-live (max=False → 0) and
    all-deleted (min=True → all) groups without touching data pages; only
    mixed groups read the bit-packed column."""
    import pyarrow.compute as pc

    md = pf.metadata
    idx = pf.schema_arrow.get_field_index(SYS_DELETED)
    total, mixed = 0, []
    for g in range(md.num_row_groups):
        col = md.row_group(g).column(idx)
        st = col.statistics
        if st is not None and st.has_min_max:
            if st.max is False:
                continue
            if st.min is True:
                total += md.row_group(g).num_rows
                continue
        mixed.append(g)
    if mixed:
        tbl = pf.read_row_groups(mixed, columns=[SYS_DELETED])
        total += int(pc.sum(tbl[SYS_DELETED]).as_py() or 0)
    return total


def _stat_us(v):
    """Normalize a parquet footer statistic to a JSON-comparable number:
    naive datetimes (the session pins UTC) → epoch microseconds; date →
    epoch days; numbers pass through. None for types we don't order."""
    import datetime as _dtm

    if isinstance(v, _dtm.datetime):
        # footer stats come back tz-aware (timestamp[us, tz=UTC]); caller
        # thresholds are naive session-UTC — normalize both to epoch micros
        epoch = (
            _dtm.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            if v.tzinfo is not None
            else _dtm.datetime(1970, 1, 1)
        )
        td = v - epoch
        # exact integer micros — total_seconds() is float and can round
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
    if isinstance(v, _dtm.date):
        return (v - _dtm.date(1970, 1, 1)).days
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None
    return v


def _lww_minmax(pf, idx):
    """(min, max) of one column across a file's row groups, from footer
    statistics only — no data pages are read. (None, None) when any group
    lacks stats (the file is then never pruned)."""
    md = pf.metadata
    mn = mx = None
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(idx).statistics
        if st is None or not st.has_min_max:
            return None, None
        mn = st.min if mn is None or st.min < mn else mn
        mx = st.max if mx is None or st.max > mx else mx
    return mn, mx


def _file_entry(root: str, full: str, schema_version: int, kind: str,
                lww_col: str) -> dict:
    """Manifest entry of a just-written data file, from its parquet footer —
    the one place both fold engines and every Spark write record file stats,
    so readers cannot tell which engine wrote a file.

    Per-file tombstone counts are recorded for DELTA files only — they are
    what the MoR lineage metrics sum (Iceberg manifests record the same
    per-file delete stats). Deterministic — unlike Observation metrics,
    which mis-count under task retry. Base/fold/CoW writes skip the
    read-back entirely (nothing consumes their del counts), and row-group
    boolean statistics short-circuit the common all-live / all-deleted
    files, so the bit-column read happens only for mixed row groups of
    (small) delta files. Iceberg-style per-file lww bounds (footer stats, no
    data pages) let read(lww_after=...) skip files whose entire ts range
    precedes the predicate."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(full)
    names = pf.schema_arrow.names
    entry = {"path": os.path.relpath(full, root), "schema_version": schema_version,
             "rows": pf.metadata.num_rows, "kind": kind}
    if kind == "delta" and SYS_DELETED in names:
        entry["del_rows"] = _del_rows(pf)
    if lww_col in names:
        mn, mx = _lww_minmax(pf, names.index(lww_col))
        mn, mx = _stat_us(mn), _stat_us(mx)
        if mn is not None and mx is not None:
            entry["lww_min"], entry["lww_max"] = mn, mx
    return entry


class _DuplicateBatch(Exception):
    """Raised inside a commit mutation when the batch id is already
    committed — turns into a skip, making re-delivered epochs no-ops."""


class _CommitConflict(Exception):
    """Raised inside a CoW commit mutation when a touched bucket's file set
    changed since the rewrite was planned — another writer committed into
    the same bucket, so swapping our rewrite in would silently drop their
    rows. The caller replans against the new manifest and retries (the
    in-process form of Iceberg's optimistic-concurrency commit loop)."""


def bucket_expr(key, n_buckets: int):
    """THE bucket id of a key column (name or Column) — the one hash every
    bucket-aware path uses: the fused collapse, the write staging, the CoW
    merge, patch_apply's prune and read_key's lookup."""
    key = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


def _conform_cols(batch_cols, schema_fields, key_cols, lww_col) -> list:
    """Align a merge batch to the table schema. A column the batch lacks is
    legal ONLY when it is neither a key nor the LWW stamp: it means the
    schema evolved (add) after this producer was built — added columns are
    nullable by construction, so the batch conforms with typed NULLs
    (Iceberg/Delta writer semantics). A missing key/LWW column is a real
    producer bug and raises by name instead of surfacing as an analyzer
    error deep in the merge plan. (Caught by the r6 schema-evolution-vs-
    writer fuzz axis: an evolution committed inside another writer's
    pre-commit window made every later old-producer batch crash.)
    An upstream `_bucket` column (the bucket-fused collapse) leads the
    output unchanged."""
    have = set(batch_cols)
    cols = [F.col("_bucket")] if "_bucket" in have else []
    for f in schema_fields:
        n, t = f["name"], f["type"]
        if n in have:
            cols.append(F.col(n).cast(t).alias(n))
        elif n in key_cols or n == lww_col:
            raise ValueError(
                f"merge batch is missing required column {n!r} "
                f"(key/LWW columns cannot be null-filled)"
            )
        else:
            cols.append(F.lit(None).cast(t).alias(n))
    return cols


class _ArrowFoldUnsupported(Exception):
    """This bucket's delta set needs the Spark fold path (mixed schema
    versions or a type pyarrow's group_by can't key on)."""


def _arrow_fold_bucket(
    root: str,
    bucket: str,
    entries: list[dict],
    key_cols: list[str],
    lww_col: str,
    out_dir: str,
    kind: str = "delta",
) -> dict:
    """Fold one bucket's pinned files into ONE file of `kind` with pyarrow
    only — zero Spark jobs, zero JVM memory traffic.

    Why it exists: at 32 ingest streams the fold path is memory-bandwidth
    bound (BENCH/BASELINE.md 8:32 analysis) — every minor fold through Spark
    costs a parquet scan into UnsafeRow, an exchange, and a JVM write of the
    SAME bytes the ingest exchange is fighting for. Per-bucket delta sets
    are small (that is what makes them *minor*), so the fold is a perfect
    Arrow kernel: read → sort → group-max → write, all in C++, off the JVM.

    Semantics are exactly _collapse_rows: winner per key = lexicographic max
    (lww_col, _seq), nulls ordered SMALLEST (Spark struct ordering), ties
    impossible (seq is unique per origin event; verbatim duplicates are
    identical rows). Tombstones are kept. The output file lands in the same
    `w-<uuid>/_bucket=<b>/` layout as a Spark write and its manifest entry
    carries the same footer-derived stats, so readers cannot tell which
    engine folded.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if len({e["schema_version"] for e in entries}) != 1:
        raise _ArrowFoldUnsupported("mixed schema versions in one bucket")
    tables = [pq.read_table(os.path.join(root, e["path"])) for e in entries]
    try:
        tbl = pa.concat_tables(tables)
        sort_idx = pc.sort_indices(
            tbl,
            sort_keys=[(lww_col, "ascending"), (SYS_SEQ, "ascending")],
            null_placement="at_start",
        )
        tbl = tbl.take(sort_idx)
        tbl = tbl.append_column("__i", pa.array(np.arange(len(tbl)), pa.int64()))
        winners = tbl.group_by(key_cols, use_threads=False).aggregate(
            [("__i", "max")]
        )
        out = tbl.take(winners["__i_max"]).drop_columns(["__i"])
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as exc:
        raise _ArrowFoldUnsupported(str(exc)) from exc
    bdir = os.path.join(out_dir, f"_bucket={bucket}")
    os.makedirs(bdir, exist_ok=True)
    full = os.path.join(bdir, f"part-0-{uuid.uuid4().hex[:12]}.parquet")
    pq.write_table(out, full)
    return _file_entry(root, full, entries[0]["schema_version"], kind, lww_col)


@dataclass
class TableSchema:
    """Ordered field list with Iceberg-style stable field ids."""

    fields: list[dict]  # {"id": int, "name": str, "type": str}
    version: int = 0
    history: dict = field(default_factory=dict)  # version(str) -> fields list

    def to_struct(self) -> T.StructType:
        return T.StructType(
            [T.StructField(f["name"], _parse_type(f["type"]), True) for f in self.fields]
        )

    def names(self) -> list[str]:
        return [f["name"] for f in self.fields]

    @staticmethod
    def from_struct(st: T.StructType) -> "TableSchema":
        fields = [
            {"id": i + 1, "name": f.name, "type": f.dataType.simpleString()}
            for i, f in enumerate(st.fields)
        ]
        return TableSchema(fields=fields, version=0, history={"0": fields})


def _parse_type(s: str) -> T.DataType:
    return T.StructType.fromDDL(f"x {s}").fields[0].dataType


# type-widening lattice (Iceberg-compatible promotions)
_WIDEN_OK = {
    ("int", "bigint"),
    ("int", "double"),
    ("bigint", "double"),
    ("float", "double"),
    ("date", "timestamp"),
}


class ParquetSnapshotTableIO:
    """A keyed, bucketed, snapshot-versioned table with MERGE semantics."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: tuple[str, str] = ("conv_id", "turn_idx"),
        lww_col: str = "ts",
        n_buckets: int = 16,
        write_mode: str = "cow",  # "cow" rewrite-on-merge | "mor" append deltas
        compact_delta_files: int = 16,  # mor: compact a bucket past this many deltas
        # accepted only because bench.py and perfbench/workloads.py pass
        # "arrow"; remove it together with their argument when the benchmark
        # is next revised
        minor_compaction_engine: str = "arrow",
    ):
        if minor_compaction_engine != "arrow":
            raise ValueError(
                f"minor_compaction_engine={minor_compaction_engine!r}: the fold "
                "engine is now chosen per bucket (see _fold); omit the argument"
            )
        self.spark = spark
        self.root = root
        self.key_cols = list(key_cols)
        self.lww_col = lww_col
        self.n_buckets = n_buckets
        self.write_mode = write_mode
        self.compact_delta_files = compact_delta_files
        # serializes manifest commits so an async compactor and the ingest
        # writer can't lose each other's updates (the in-process reduction of
        # Iceberg's optimistic-concurrency commit loop — all writers share
        # this driver). Data-file writes happen OUTSIDE the lock; only the
        # read-mutate-swap of the manifest is serialized.
        self._commit_lock = threading.Lock()
        # in-flight markers for data dirs this handle has written but not
        # yet committed (see INFLIGHT_TTL); cleared on successful commit,
        # left to age out on crash/abort. THREAD-LOCAL: two threads sharing
        # one handle (the documented ingest-batch + async-compactor shape)
        # each commit their own operation's markers — a global list would
        # let thread B's commit drop thread A's marker while A is still
        # pre-commit, re-exposing A's in-flight files to grace=0 orphan GC.
        self._markers_tl = threading.local()
        # lww_after file pruning needs footer min/max stats on the lww
        # column; legacy INT96 timestamps carry none, so pin INT64 micros
        # (Iceberg's representation) even under a caller-built session
        if spark is not None:  # metadata-only uses pass spark=None
            spark.conf.set(
                "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
            )
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        # content-addressed bucket manifests are immutable → raw-text cache
        # (parsed fresh per call so callers can mutate their copy freely)
        self._bucket_manifest_cache: dict[str, str] = {}
        # the bucket layout is TABLE state, not caller preference: reopening
        # an existing table must adopt the manifest's n_buckets, or new rows
        # would hash into a different layout than the files on disk and the
        # bucket-pruned merge would miss a key's existing row (duplicates).
        # The constructor arg only seeds a NEW table; rebucket() changes it.
        m = self.current_manifest()
        if m is not None and "n_buckets" in m:
            self.n_buckets = int(m["n_buckets"])

    def _process_lock(self):
        """Advisory inter-process exclusive lock on the table root.

        The threading.Lock only serializes committers in THIS driver; two
        writer *processes* could both read snapshot N and last-rename-wins.
        flock on `<root>/_commit.lock` extends the read-mutate-swap critical
        section across processes on the same host/NFS-with-flock. (On object
        stores this becomes the catalog's atomic swap, as in Iceberg.)
        """
        import fcntl
        from contextlib import contextmanager

        @contextmanager
        def _lk():
            fd = os.open(os.path.join(self.root, "_commit.lock"),
                         os.O_CREAT | os.O_RDWR)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
                os.close(fd)

        return _lk()

    # ---------- manifest plumbing ----------

    def _current_path(self) -> str:
        # "_current" for main; "_branch-<name>" for a branch handle — the
        # ONE indirection every read and commit goes through, which is what
        # makes branches free to layer on (see branch()).
        return os.path.join(self.root, getattr(self, "_pointer_name", "_current"))

    def current_manifest(self) -> dict | None:
        p = self._current_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            name = f.read().strip()
        with open(os.path.join(self.root, "snapshots", name)) as f:
            return self._resolve_files(json.load(f))

    def exists(self) -> bool:
        return self.current_manifest() is not None

    def _resolve_files(self, snap: dict) -> dict:
        """Materialize `snap['files']` from the two-level layout: the
        snapshot stores only `{bucket: bucket-manifest filename}`; each
        bucket manifest is an immutable content-addressed JSON list of file
        entries under `manifests/`. Callers see the same in-memory shape as
        the old inline format (legacy inline snapshots pass through)."""
        if "files_manifests" not in snap:
            return snap
        files: dict[str, list[dict]] = {}
        for b, fn in snap["files_manifests"].items():
            files[b] = json.loads(self._read_manifest_blob(fn))
        snap["files"] = files
        # history ledgers: full 1024-entry segments live in immutable
        # content-addressed files; the snapshot carries only the partial
        # tail inline, so per-commit ledger IO is O(1) amortized instead of
        # O(batches since table creation)
        for key in ("lineage", "committed_batches"):
            seg_key = f"{key}_segments"
            if seg_key in snap:
                full: list = []
                for fn in snap[seg_key]:
                    full.extend(json.loads(self._read_manifest_blob(fn)))
                full.extend(snap.get(key, []))
                snap[key] = full
        return snap

    def _read_manifest_blob(self, fn: str) -> str:
        raw = self._bucket_manifest_cache.get(fn)
        if raw is None:
            with open(os.path.join(self.root, "manifests", fn)) as f:
                raw = f.read()
            if len(self._bucket_manifest_cache) > 4096:
                self._bucket_manifest_cache.clear()
            self._bucket_manifest_cache[fn] = raw
        return raw

    def _write_manifest_blob(self, prefix: str, content: str) -> str:
        """Write an immutable content-addressed metadata blob (bucket
        manifest or ledger segment); identical content reuses the existing
        file, which is what makes unchanged metadata free to carry forward."""
        import hashlib

        digest = hashlib.md5(content.encode()).hexdigest()[:16]
        fn = f"{prefix}-{digest}.json"
        full = os.path.join(self.root, "manifests", fn)
        if not os.path.exists(full):
            _atomic_write(full, content)  # readers never see a torn manifest
        return fn

    def _commit(self, manifest: dict) -> None:
        """Write the snapshot in the two-level layout (Iceberg
        manifest-list analog): one small content-addressed manifest file
        per bucket, reused verbatim across snapshots while the bucket is
        untouched, plus a snapshot JSON holding only the per-bucket
        pointers. Commit IO is O(changed buckets + n_buckets pointers) —
        not O(total file entries) — which is what keeps the metadata path
        flat when a 100 TB table takes a batch touching 1% of its buckets.
        (Hashing is CPU-side O(entries); the write amplification that hurts
        on an object store is the IO, and that is what the reuse removes.)

        History ledgers (`lineage`, `committed_batches`) get the same
        treatment: full SEGMENT_ROWS-entry segments are spilled to
        content-addressed files — a growing ledger only ever rewrites its
        partial tail, never its history."""
        self._refresh_markers()  # keep GC protection through the commit
        SEGMENT_ROWS = 1024
        manifest = dict(manifest)
        files = manifest.pop("files", {})
        manifest.pop("files_manifests", None)  # stale copy from dict(cur)
        fm: dict[str, str] = {}
        for b, es in files.items():
            content = json.dumps(es, sort_keys=True, separators=(",", ":"))
            fm[b] = self._write_manifest_blob(f"b{b}", content)
        manifest["files_manifests"] = fm
        for key in ("lineage", "committed_batches"):
            full_list = manifest.get(key, [])
            segs: list[str] = []
            n_full = len(full_list) // SEGMENT_ROWS
            for s in range(n_full):
                chunk = full_list[s * SEGMENT_ROWS:(s + 1) * SEGMENT_ROWS]
                segs.append(self._write_manifest_blob(
                    f"seg-{key[:3]}",
                    json.dumps(chunk, separators=(",", ":")),
                ))
            manifest[f"{key}_segments"] = segs
            manifest[key] = full_list[n_full * SEGMENT_ROWS:]
        name = f"snap-{manifest['snapshot_id']:06d}.json"
        with open(os.path.join(self.root, "snapshots", name), "w") as f:
            json.dump(manifest, f, indent=1)
        _atomic_write(self._current_path(), name)  # atomic pointer swap == commit
        # the write dirs THIS THREAD's operation staged are now referenced
        # by a committed snapshot (or superseded) — release their GC
        # protection; another thread's pre-commit markers are untouched
        paths = getattr(self._markers_tl, "paths", [])
        while paths:
            try:
                os.remove(paths.pop())
            except OSError:
                pass

    def _commit_mutation(self, mutate) -> dict:
        """Re-read the CURRENT manifest under the commit lock, apply
        `mutate(manifest) -> manifest` (a full new manifest except snapshot
        bookkeeping), stamp snapshot_id/parent, swap. Writers express their
        change against the latest state, so concurrent committers (ingest
        batch vs async compaction) compose instead of clobbering."""
        with self._commit_lock, self._process_lock():
            m = self.current_manifest()
            m2 = mutate(m)
            # ids are allocated GLOBALLY (max on disk + 1, under the commit
            # lock), not head+1: a staging branch and main interleave
            # commits, and two chains minting head+1 would collide on the
            # same snapshot file. Chains are defined by `parent`, not by id
            # contiguity (Iceberg's snapshot ids are likewise chain-free).
            m2["snapshot_id"] = max(self.snapshot_ids(), default=-1) + 1
            m2["parent"] = m["snapshot_id"]
            self._commit(m2)
            return m2

    def committed_batches(self) -> set[str]:
        m = self.current_manifest()
        return set(m["committed_batches"]) if m else set()

    def snapshot_id(self) -> int:
        m = self.current_manifest()
        return m["snapshot_id"] if m else -1

    # ---------- read ----------

    def _read_files(self, entries: list[dict], schema: TableSchema) -> DataFrame | None:
        """Read data-file entries, reconciling old schema versions by field id."""
        if not entries:
            return None
        by_ver: dict[str, list[str]] = {}
        for e in entries:
            by_ver.setdefault(str(e["schema_version"]), []).append(
                os.path.join(self.root, e["path"])
            )
        parts = []
        cur_by_id = {f["id"]: f for f in schema.fields}
        for ver, paths in by_ver.items():
            df = self.spark.read.parquet(*paths)
            old_fields = schema.history[ver]
            cols = []
            old_by_id = {f["id"]: f for f in old_fields}
            for fid, cur in cur_by_id.items():
                old = old_by_id.get(fid)
                if old is None:  # column added after this file was written
                    cols.append(F.lit(None).cast(cur["type"]).alias(cur["name"]))
                else:  # rename and/or widen by id
                    cols.append(F.col(old["name"]).cast(cur["type"]).alias(cur["name"]))
            for s in SYS_COLS:
                cols.append(F.col(s))
            parts.append(df.select(cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read_full(
        self, buckets: list[int] | None = None, lww_after=None,
        manifest: dict | None = None,
    ) -> DataFrame | None:
        """All rows incl. tombstones + system cols; optional bucket pruning.

        Merge-on-read: if the selected buckets carry delta files, base∪deltas
        is collapsed to one row per key by LWW (max (lww, _seq)) before being
        returned — readers always see merged state regardless of write mode.

        `lww_after` (a value of the lww column's type) skips files whose
        footer-recorded lww max is ≤ the threshold. ONLY sound when the
        caller also filters `lww_col > lww_after` after the collapse (as
        `read(lww_after=...)` does): every pruned row has lww ≤ threshold,
        so it is either a collapse loser to a kept row with lww > threshold,
        or its key's winner is itself ≤ threshold and the post-filter drops
        the key entirely — identical output, fewer files scanned.
        `self.last_scan` records {files_total, files_pruned} for plan
        assertions.

        `manifest` pins the snapshot the plan reads (CoW merge passes the
        manifest it will conflict-check against at commit; default is the
        current one)."""
        m = self.current_manifest() if manifest is None else manifest
        if m is None:
            return None
        schema = TableSchema(**m["schema"])
        entries = []
        has_delta = False
        for b, es in m["files"].items():
            if buckets is None or int(b) in buckets:
                entries.extend(es)
                has_delta = has_delta or any(e.get("kind") == "delta" for e in es)
        total = len(entries)
        if lww_after is not None:
            thr = _stat_us(lww_after)
            if thr is not None:
                entries = [
                    e for e in entries if e.get("lww_max") is None or e["lww_max"] > thr
                ]
        self.last_scan = {"files_total": total, "files_pruned": total - len(entries)}
        df = self._read_files(entries, schema)
        if df is None:
            empty = self.spark.createDataFrame([], schema.to_struct())
            return empty.withColumn(SYS_SEQ, F.lit(None).cast("long")).withColumn(
                SYS_DELETED, F.lit(False)
            )
        if has_delta:
            df = self._collapse_rows(df)
        return df

    def _collapse_rows(self, df: DataFrame) -> DataFrame:
        """One row per key: winner by lexicographic max (lww_col, _seq).
        Output columns: key cols, then the rest in input order (data cols,
        `_seq`, `_deleted` for a file read) — the arrow fold concatenates
        files by schema, so this order is part of the on-disk contract."""
        # lazy: cdc/__init__ imports replay, which imports this module
        from pentaho_kettle_spark.cdc.lww import lww_winners

        return lww_winners(df, self.key_cols, self.lww_col, SYS_SEQ)

    def read(self, lww_after=None) -> DataFrame | None:
        """The visible table: non-tombstone rows, data columns only.

        `lww_after` returns only keys whose current winning version is
        newer than the threshold — an incremental-consumer / recent-activity
        scan — and skips whole files via footer lww bounds (see read_full)."""
        df = self.read_full(lww_after=lww_after)
        if df is None:
            return None
        m = self.current_manifest()
        names = TableSchema(**m["schema"]).names()
        out = df.filter(~F.col(SYS_DELETED))
        if lww_after is not None:
            out = out.filter(F.col(self.lww_col) > F.lit(lww_after))
        return out.select(*names)

    def read_key(self, key_value) -> DataFrame | None:
        """Point lookup: the live rows of ONE primary key-prefix value
        (e.g. every turn of a conversation) — the serving-side read a CDC
        sink must answer cheaply.

        IO is O(one bucket), not O(table): the key's bucket id is computed
        driver-side with the same `xxhash64` the writer used (a one-row
        constant-folded Spark job — bounded, like Iceberg's client-side
        partition transform), only that bucket's files are listed from the
        manifest, and the equality predicate is pushed below the LWW
        collapse (Catalyst pushes grouping-key predicates through the
        Aggregate) into the parquet scan, where row-group min/max stats
        skip non-matching groups. At 4096 buckets a lookup touches ~0.02%
        of the table's files."""
        m = self.current_manifest()
        if m is None:
            return None
        schema = TableSchema(**m["schema"])
        # xxhash64 is TYPE-sensitive (int32 7 and int64 7 hash differently),
        # so the literal must be cast to the key column's declared type or
        # the driver-side bucket id diverges from the writer's
        key_type = dict(zip(schema.names(),
                            [f["type"] for f in schema.fields]))[self.key_cols[0]]
        key_lit = F.lit(key_value).cast(key_type)
        b = self.spark.range(1).select(
            bucket_expr(key_lit, self.n_buckets).alias("b")
        ).first()["b"]
        df = self.read_full(buckets=[b])
        return (
            df.filter(F.col(self.key_cols[0]) == key_lit)
            .filter(~F.col(SYS_DELETED))
            .select(*schema.names())
        )

    def schema(self) -> TableSchema | None:
        m = self.current_manifest()
        return TableSchema(**m["schema"]) if m else None

    # ---------- write ----------

    def _new_write_dir(self) -> str:
        """Allocate an uncommitted data dir and register its in-flight
        marker, so a concurrent expire_snapshots (even with grace_seconds=0)
        never orphan-collects files this handle is about to commit. The
        marker is removed by `_commit`; a crashed/aborted writer's marker
        ages out after INFLIGHT_TTL and the files become ordinary orphans."""
        outdir = os.path.join(self.root, "data", f"w-{uuid.uuid4().hex[:12]}")
        marker = os.path.join(self.root, "_inflight", os.path.basename(outdir))
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        with open(marker, "w"):
            pass  # the marker's mtime is the liveness signal
        if not hasattr(self._markers_tl, "paths"):
            self._markers_tl.paths = []
        self._markers_tl.paths.append(marker)
        return outdir

    def _refresh_markers(self) -> None:
        """Re-stamp this thread's in-flight markers (liveness = mtime): a
        write that outlives INFLIGHT_TTL would otherwise lose GC protection
        mid-operation. Called after each bulk data write and again on entry
        to the commit path."""
        for mk in getattr(self._markers_tl, "paths", []):
            try:
                os.utime(mk)
            except OSError:
                pass

    def _write_buckets(
        self, df: DataFrame, schema_version: int, kind: str = "base"
    ) -> dict:
        """Write df (must contain SYS cols) partitioned by bucket; return
        {bucket: [file entries]} with row counts from parquet footers.

        The directory name is a uuid, NOT the next snapshot id: concurrent
        writers (ingest batch + async compactor) both write before their
        commit order is decided, so predicting the snapshot id races."""
        outdir = self._new_write_dir()
        if "_bucket" in df.columns:
            # upstream already bucket-partitioned (lww_collapse's
            # bucket-fused single-exchange plan) — re-staging would add a shuffle
            staged = df
        else:
            # pin the exchange to n_buckets partitions (not shuffle.partitions
            # + AQE coalesce): the write stage's layout is FIXED — one task
            # per bucket hash slot, one file per bucket per batch — so runtime
            # re-planning only removes write parallelism here
            staged = df.withColumn(
                "_bucket", bucket_expr(self.key_cols[0], self.n_buckets)
            ).repartition(self.n_buckets, "_bucket")
        staged.write.mode("overwrite").partitionBy("_bucket").parquet(outdir)
        self._refresh_markers()  # long write done — restart the TTL clock
        files: dict[str, list[dict]] = {}
        for dirpath, _dirnames, filenames in os.walk(outdir):
            for fn in filenames:
                if not fn.endswith(".parquet"):
                    continue
                entry = _file_entry(self.root, os.path.join(dirpath, fn),
                                    schema_version, kind, self.lww_col)
                if entry["rows"]:
                    files.setdefault(dirpath.split("_bucket=")[-1], []).append(entry)
        return files

    def _commit_fresh(self, schema: T.StructType, snapshot_id: int,
                      parent: int | None, files: dict, batches: list) -> None:
        """Commit a new table state under a version-0 `schema` with an empty
        lineage (init_empty / overwrite)."""
        ts = TableSchema.from_struct(schema)
        self._commit(
            {
                "snapshot_id": snapshot_id,
                "parent": parent,
                "schema": {"fields": ts.fields, "version": 0, "history": ts.history},
                "n_buckets": self.n_buckets,
                "files": files,
                "committed_batches": batches,
                "seq_high_watermark": -1,
                "lineage": [],
            }
        )

    def init_empty(self, schema: T.StructType) -> None:
        self._commit_fresh(schema, 0, None, {}, [])

    def overwrite(self, df: DataFrame, batch_id: str | None = None) -> None:
        """Full-table replace (bootstrap / snapshot load)."""
        if SYS_SEQ not in df.columns:
            df = df.withColumn(SYS_SEQ, F.lit(-1).cast("long"))
        if SYS_DELETED not in df.columns:
            df = df.withColumn(SYS_DELETED, F.lit(False))
        data_schema = T.StructType(
            [f for f in df.schema.fields if f.name not in SYS_COLS]
        )
        sid = self.snapshot_id() + 1
        files = self._write_buckets(df, 0)
        prev = self.current_manifest()
        batches = (prev["committed_batches"] if prev else [])
        if batch_id is not None:
            batches = [*batches, batch_id]
        self._commit_fresh(data_schema, sid, self.snapshot_id() if prev else None,
                           files, batches)

    # ---------- schema evolution ----------

    def evolve_schema(self, actions: list[dict]) -> TableSchema:
        """Apply add/rename/widen actions; new manifest, files untouched.

        actions: {"action": "add", "name", "type"} |
                 {"action": "rename", "from", "to"} |
                 {"action": "widen", "name", "type"}
        """
        m = self.current_manifest()
        schema = TableSchema(**m["schema"])
        fields = [dict(f) for f in schema.fields]
        for a in actions:
            if a["action"] == "add":
                if any(f["name"] == a["name"] for f in fields):
                    continue
                nid = max((f["id"] for f in fields), default=0) + 1
                fields.append({"id": nid, "name": a["name"], "type": a["type"]})
            elif a["action"] == "rename":
                for f in fields:
                    if f["name"] == a["from"]:
                        f["name"] = a["to"]
            elif a["action"] == "widen":
                for f in fields:
                    if f["name"] == a["name"]:
                        if (f["type"], a["type"]) not in _WIDEN_OK and f["type"] != a["type"]:
                            raise ValueError(
                                f"illegal type change {f['type']} -> {a['type']} for {a['name']}"
                            )
                        f["type"] = a["type"]
            else:
                raise ValueError(f"unknown action {a}")
        new_version = schema.version + 1
        history = dict(schema.history)
        history[str(new_version)] = fields
        new_schema = {"fields": fields, "version": new_version, "history": history}

        def _mutate(cur: dict) -> dict:
            out = dict(cur)
            out["schema"] = new_schema
            return out

        self._commit_mutation(_mutate)
        return TableSchema(**new_schema)

    # ---------- MERGE (the CDC apply) ----------

    def delete_where(self, predicate, batch_id: str | None = None) -> dict:
        """Bulk predicate delete (GDPR erasure / retention sweeps): tombstone
        every live row matching `predicate` (a SQL string or Column), as one
        ordinary exactly-once commit.

        Built ON the merge path, not beside it: matching live rows become a
        delete changelog carrying each row's own lww value with
        `_seq = seq_high_watermark + 1`, so each tombstone beats exactly the
        version it erases under the (lww, _seq) order — a concurrent NEWER
        update (greater lww) still wins, which is the correct race outcome
        for an erasure sweep. Scan cost is the predicate's: Catalyst pushes
        it into the parquet scan, and only buckets with matching keys are
        touched by the merge (MoR writes tombstone deltas; CoW rewrites
        matched buckets)."""
        m = self.current_manifest()
        if m is None:
            raise RuntimeError("table not initialized; call init_empty first")
        names = TableSchema(**m["schema"]).names()
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        live = self.read_full().filter(~F.col(SYS_DELETED)).filter(pred)
        # the tombstone's seq must STRICTLY beat every erased version: the
        # stored watermark alone is not enough (tables loaded without
        # replay's watermark tracking keep -1), so take the matched rows'
        # own max _seq too — one scalar aggregate over the predicate scan
        hw = m.get("seq_high_watermark", -1)
        mx = live.agg(F.max(SYS_SEQ)).first()[0]
        hw = max(hw, mx if mx is not None else -1)
        changes = live.select(
            *names, F.lit("D").alias("op"),
            F.lit(hw + 1).cast("long").alias(SYS_SEQ),
        )
        return self.merge_apply(changes, batch_id=batch_id,
                                seq_high_watermark=hw + 1)

    def delete_older_than(self, cutoff, batch_id: str | None = None) -> dict:
        """Retention sweep: erase keys whose CURRENT winning version is
        older than `cutoff` (a value of the lww column's type). Sugar over
        delete_where; footer lww bounds do not prune here (old files are
        exactly the targets), but the scan is still column-pruned to the
        key + lww columns by Catalyst."""
        return self.delete_where(F.col(self.lww_col) < F.lit(cutoff),
                                 batch_id=batch_id)

    def patch_apply(
        self,
        patches: DataFrame,
        batch_id: str | None = None,
        seq_high_watermark: int | None = None,
    ) -> dict:
        """Sparse / partial-column upserts (Hudi's partial-update payload;
        Debezium PATCH-style events): each patch row carries the key, the
        lww value, `_seq`, and any subset of payload columns — NULL means
        "leave that column alone". Resolution, in order:

          1. within the batch, patches fold COLUMN-WISE per key: latest
             non-null value per column under the (lww, _seq) order;
          2. the fold joins the stored state of ONLY the touched buckets;
             a fold at or below the stored winner's (lww, _seq) is dropped
             whole (the same row-level staleness gate as merge_apply);
          3. unpatched columns inherit from the stored row iff it is LIVE —
             values never leak through a tombstone (a patch after a delete
             resurrects the key with only its own columns);

        and the resolved FULL rows ride the normal merge path (op=U), so
        storage stays row-LWW and readers/compactors are untouched. Patch
        semantics are defined relative to APPLY order, like Hudi: with
        in-order delivery the result equals the pure column-LWW fold of
        the log (which is what the oracle computes).

        Cost: one exchange for the fold, a bucket-pruned join against the
        stored state (the same IO class as a CoW merge of those buckets),
        then the merge itself."""
        from pyspark.sql import Window

        m = self.current_manifest()
        if m is None:
            raise RuntimeError("table not initialized; call init_empty first")
        if batch_id is not None and batch_id in set(m["committed_batches"]):
            return {"skipped_duplicate_batch": batch_id}
        schema = TableSchema(**m["schema"])
        names = schema.names()
        key = list(self.key_cols)
        lww = self.lww_col
        payload = [c for c in names if c not in key and c != lww]

        latest = Window.partitionBy(*key).orderBy(
            F.col(lww).desc(), F.col(SYS_SEQ).desc()
        )
        w = latest.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        fold = (
            patches.withColumn("_rn", F.row_number().over(latest))
            .select(
                *key,
                F.col(lww).alias("_p_lww"),
                F.col(SYS_SEQ).alias("_p_seq"),
                "_rn",
                *[
                    F.first(F.col(c), ignorenulls=True).over(w).alias(f"_p_{c}")
                    for c in payload
                ],
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

        # stored state of the touched buckets only (the same prune the CoW
        # merge performs)
        touched = self._touched_buckets(patches)
        stored = self.read_full(buckets=touched)
        stored_sel = stored.select(
            *key,
            F.col(lww).alias("_s_lww"),
            F.col(SYS_SEQ).alias("_s_seq"),
            F.col(SYS_DELETED).alias("_s_del"),
            *[F.col(c).alias(f"_s_{c}") for c in payload],
        )
        j = fold.join(stored_sel, on=key, how="left")
        fresh = j.filter(
            F.col("_s_lww").isNull()
            | (
                F.struct(F.col("_p_lww"), F.col("_p_seq"))
                > F.struct(F.col("_s_lww"), F.col("_s_seq"))
            )
        )
        live = F.col("_s_lww").isNotNull() & ~F.coalesce(F.col("_s_del"), F.lit(False))
        resolved = fresh.select(
            *key,
            F.col("_p_lww").alias(lww),
            *[
                F.when(live, F.coalesce(F.col(f"_p_{c}"), F.col(f"_s_{c}")))
                .otherwise(F.col(f"_p_{c}"))
                .alias(c)
                for c in payload
            ],
            F.lit("U").alias("op"),
            F.col("_p_seq").alias(SYS_SEQ),
        ).select(*names, "op", SYS_SEQ)
        # `resolved` is one row per key by construction (the fold keeps
        # row_number 1 per key) — skip merge_apply's safety collapse so the
        # patch path doesn't pay a redundant exchange per batch
        return self.merge_apply(
            resolved, batch_id=batch_id, seq_high_watermark=seq_high_watermark,
            assume_collapsed=True,
        )

    def merge_apply(
        self,
        changes: DataFrame,
        batch_id: str | None = None,
        seq_high_watermark: int | None = None,
        assume_collapsed: bool = False,
    ) -> dict:
        """Apply changes (cols = data cols + `op` in {U, D} + SYS_SEQ) with
        LWW on (lww_col, SYS_SEQ).

        A batch may carry several events for one key: MoR resolves them at
        read/fold time by construction, and the CoW path collapses the batch
        to its per-key (lww, seq)-winners before the bucket-rewrite join —
        without that collapse a multi-event key would duplicate in the
        rewritten bucket (found by the writer-vs-writer property fuzz).
        `assume_collapsed=True` skips that exchange when the caller already
        collapsed (replay_changelog's fused/salted plans) — the hot ingest
        path keeps its one-exchange-per-batch shape.

        Key columns must be non-null (they are the table's primary key and
        the bucket hash input). NULL keys are not rejected on the hot path
        — MoR's null-safe groupBy happens to collapse them as one key —
        but the CoW join does not match them; treat them as malformed
        upstream events and filter before apply.

        Copy-on-write at bucket granularity: only buckets containing changed
        keys are rewritten; others carry forward by manifest reference.
        Returns the lineage record for this apply.
        """
        m = self.current_manifest()
        if m is None:
            raise RuntimeError("table not initialized; call init_empty/overwrite first")
        if batch_id is not None and batch_id in set(m["committed_batches"]):
            return {"skipped_duplicate_batch": batch_id}
        if self.write_mode == "mor":
            return self._merge_apply_mor(changes, m, batch_id, seq_high_watermark)

        schema = TableSchema(**m["schema"])
        names = schema.names()

        # cast/conform changes to the current table schema (type widening is
        # applied to the table *before* merge by the caller; here we align).
        # An upstream `_bucket` column (the fused bucket-aligned collapse)
        # is carried through: the merge join below then co-partitions on it
        # and the bucket write needs no re-staging exchange.
        chg = changes.select(
            *_conform_cols(changes.columns, schema.fields, self.key_cols, self.lww_col),
            F.col("op"),
            F.col(SYS_SEQ).cast("long").alias(SYS_SEQ),
        )
        if not assume_collapsed:
            # within-batch LWW over the conformed columns (op rides in the
            # payload). `_bucket` is dropped first: this collapse
            # re-partitions by key, so the bucket alignment is gone anyway
            # and keeping the column would falsely signal _write_buckets to
            # skip its staging.
            chg = self._collapse_rows(chg.drop("_bucket"))

        # persist: chg is consumed twice (bucket-pruning collect + the merge
        # join) and survives commit-conflict retries; without this the
        # upstream LWW collapse shuffle would run once per consumer/attempt
        from pyspark.storagelevel import StorageLevel

        chg = chg.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # bucket pruning: which buckets does this batch touch?
            # (independent of the manifest — computed once across retries)
            touched = self._touched_buckets(chg)
            # optimistic concurrency (Iceberg's commit retry loop): the
            # rewrite is planned against manifest `m`; if another writer
            # commits into a touched bucket before our pointer swap, the
            # conflict check raises and the merge REPLANS against the new
            # manifest — without it the swap would silently drop the
            # concurrent writer's rows from the shared bucket
            for _attempt in range(4):
                try:
                    return self._merge_apply_cow(
                        chg, m, touched, batch_id, seq_high_watermark
                    )
                except _CommitConflict:
                    m = self.current_manifest()
                    if batch_id is not None and batch_id in set(
                        m["committed_batches"]
                    ):
                        return {"skipped_duplicate_batch": batch_id}
            raise RuntimeError(
                f"merge_apply {batch_id!r}: lost the commit race 4 times on "
                f"buckets {sorted(touched)}; quiesce competing writers or "
                "route this table through a single committer"
            )
        finally:
            chg.unpersist()

    def _touched_buckets(self, df: DataFrame) -> list[int]:
        """Distinct bucket ids of `df`'s keys — a bounded collect of ≤
        n_buckets ints; a bucket-fused batch already carries `_bucket`."""
        bcol = (
            F.col("_bucket") if "_bucket" in df.columns
            else bucket_expr(self.key_cols[0], self.n_buckets)
        )
        return [r["b"] for r in df.select(bcol.alias("b")).distinct().collect()]

    def _merge_apply_cow(
        self,
        chg: DataFrame,
        m: dict,
        touched: list[int],
        batch_id: str | None,
        seq_high_watermark: int | None,
    ) -> dict:
        """One CoW rewrite attempt planned against manifest `m`: join the
        touched buckets' state (as of `m`) with the changes, write the
        merged buckets, and commit iff those buckets are still exactly as
        `m` recorded them (raises _CommitConflict otherwise)."""
        schema = TableSchema(**m["schema"])
        names = schema.names()
        key = self.key_cols
        lww = self.lww_col
        # the commit-time conflict check compares against the file sets the
        # plan below actually reads — same manifest, same buckets
        planned = {
            str(b): {e["path"] for e in m["files"].get(str(b), [])}
            for b in touched
        }
        fused = "_bucket" in chg.columns
        bucket_out = [F.col("_bucket")] if fused else []
        if not any(planned[str(b)] for b in touched):
            # BOOTSTRAP fast path: every touched bucket is empty as of `m`,
            # so the full-outer merge join would join against nothing — the
            # whole batch is inserts/delete-noops by construction. Skipping
            # the join removes one full exchange of the batch (the table
            # side's key shuffle + the join itself); the commit-time
            # conflict check below still guards the empty-set assumption,
            # so a concurrent writer landing first forces a replan through
            # the join path. Same outcomes, same metrics, same files.
            merged = chg.select(
                *bucket_out,
                *[F.col(n) for n in names],
                F.col(SYS_SEQ),
                (F.col("op") == F.lit("D")).alias(SYS_DELETED),
                F.when(F.col("op") == "D", F.lit("delete_noop"))
                .otherwise(F.lit("inserted"))
                .alias("_outcome"),
            )
        else:
            current = self.read_full(buckets=touched, manifest=m)
            if fused:
                # bucket-aligned merge (r6): `chg` arrives hash-partitioned
                # by `_bucket` from the fused collapse; staging the table
                # side by the SAME bucket expression makes the full-outer
                # join co-partitioned — the batch is never re-shuffled by
                # key, and the merged output is already laid out for the
                # bucket write (one exchange of table bytes instead of a
                # key-shuffle of both sides plus a staging exchange).
                current = current.withColumn(
                    "_bucket", bucket_expr(key[0], self.n_buckets)
                ).repartition(self.n_buckets, "_bucket")

            c = chg.alias("c")
            t = current.alias("t")
            cond = [F.col(f"c.{k}") == F.col(f"t.{k}") for k in key]
            if fused:
                cond = [F.col("c._bucket") == F.col("t._bucket"), *cond]
            joined = c.join(t, cond, "full_outer")

            c_stamp = F.struct(F.col(f"c.{lww}").alias("ts"), F.col(f"c.{SYS_SEQ}").alias("s"))
            t_stamp = F.struct(F.col(f"t.{lww}").alias("ts"), F.col(f"t.{SYS_SEQ}").alias("s"))
            change_wins = F.col(f"t.{key[0]}").isNull() | (c_stamp > t_stamp)
            has_change = F.col(f"c.{key[0]}").isNotNull()
            take_change = has_change & change_wins

            out_cols = [
                F.coalesce(F.col("c._bucket"), F.col("t._bucket")).alias("_bucket")
            ] if fused else []
            out_cols += [
                F.when(take_change, F.col(f"c.{n}")).otherwise(F.col(f"t.{n}")).alias(n)
                for n in names
            ]
            out_cols.append(
                F.when(take_change, F.col(f"c.{SYS_SEQ}"))
                .otherwise(F.col(f"t.{SYS_SEQ}"))
                .alias(SYS_SEQ)
            )
            out_cols.append(
                F.when(take_change, F.col("c.op") == F.lit("D"))
                .otherwise(F.coalesce(F.col(f"t.{SYS_DELETED}"), F.lit(False)))
                .alias(SYS_DELETED)
            )
            outcome = (
                F.when(~has_change, F.lit("carried"))
                .when(~change_wins, F.lit("stale_lost"))
                .when(F.col("c.op") == "D",
                      F.when(F.col(f"t.{key[0]}").isNotNull() & ~F.col(f"t.{SYS_DELETED}"),
                             F.lit("deleted")).otherwise(F.lit("delete_noop")))
                .when(F.col(f"t.{key[0]}").isNull() | F.col(f"t.{SYS_DELETED}"), F.lit("inserted"))
                .otherwise(F.lit("updated"))
            )
            merged = joined.select(*out_cols, outcome.alias("_outcome"))

        # one pass: observe() collects op counts without a second job
        from pyspark.sql import Observation

        obs = Observation(f"merge-{batch_id or 'adhoc'}")
        merged = merged.observe(
            obs,
            F.count(F.lit(1)).alias("rows_out"),
            F.sum((F.col("_outcome") == "inserted").cast("long")).alias("inserted"),
            F.sum((F.col("_outcome") == "updated").cast("long")).alias("updated"),
            F.sum((F.col("_outcome") == "deleted").cast("long")).alias("deleted"),
            F.sum((F.col("_outcome") == "delete_noop").cast("long")).alias("delete_noop"),
            F.sum((F.col("_outcome") == "stale_lost").cast("long")).alias("stale_lost"),
            F.sum((F.col("_outcome") == "carried").cast("long")).alias("carried"),
        )
        merged = merged.drop("_outcome")

        new_files = self._write_buckets(merged, schema.version)
        metrics = obs.get

        lineage_rec = {
            "batch_id": batch_id,
            "touched_buckets": sorted(touched),
            "per_bucket_rows": {b: sum(e["rows"] for e in es) for b, es in new_files.items()},
            "metrics": {k: int(v) if v is not None else 0 for k, v in metrics.items()},
            "seq_high_watermark": seq_high_watermark,
        }

        def _files(cur: dict) -> dict:
            for b in touched:
                bs = str(b)
                if {e["path"] for e in cur["files"].get(bs, [])} != planned[bs]:
                    raise _CommitConflict(bs)  # replan against cur (retry)
            files = {b: es for b, es in cur["files"].items() if int(b) not in touched}
            files.update(new_files)
            return files

        if self._commit_batch(_files, batch_id, seq_high_watermark, lineage_rec) is None:
            return {"skipped_duplicate_batch": batch_id}
        return lineage_rec

    def _commit_batch(self, files_of, batch_id: str | None,
                      seq_high_watermark: int | None, lineage_rec: dict) -> dict | None:
        """Commit one merge apply: `files_of(cur)` maps the current manifest
        to the new file map (it may raise _CommitConflict); the batch id,
        seq watermark and lineage record ride along. Stamps the record's
        snapshot id and returns the committed manifest, or None when the
        batch id was already committed (a re-delivered epoch is a no-op)."""
        def _mutate(cur: dict) -> dict:
            if batch_id is not None and batch_id in set(cur["committed_batches"]):
                raise _DuplicateBatch(batch_id)
            hw = cur.get("seq_high_watermark", -1)
            return {
                "schema": cur["schema"],
                "n_buckets": self.n_buckets,
                "files": files_of(cur),
                "committed_batches": [*cur["committed_batches"],
                                      *([batch_id] if batch_id is not None else [])],
                "seq_high_watermark": max(
                    hw, seq_high_watermark if seq_high_watermark is not None else -1
                ),
                "lineage": [*cur["lineage"], lineage_rec],
            }

        try:
            committed = self._commit_mutation(_mutate)
        except _DuplicateBatch:
            return None
        lineage_rec["snapshot_id"] = committed["snapshot_id"]
        return committed

    def _merge_apply_mor(
        self,
        changes: DataFrame,
        m: dict,
        batch_id: str | None,
        seq_high_watermark: int | None,
    ) -> dict:
        """Merge-on-read apply: append the collapsed batch as per-bucket DELTA
        files — no read, no join, no rewrite of existing data. Write cost is
        O(changes) instead of O(touched table); readers collapse base∪deltas
        by LWW (read_full) and `compact()` folds deltas back into base when a
        bucket accumulates more than `compact_delta_files` of them.

        This is the high-throughput CDC path (Iceberg v2 MoR / Hudi MOR
        equivalent): at 10^10 events/day the CoW variant would rewrite every
        hot bucket every batch; MoR amortizes that into scheduled compaction.
        """
        schema = TableSchema(**m["schema"])
        delta = changes.select(
            *_conform_cols(changes.columns, schema.fields, self.key_cols, self.lww_col),
            F.col(SYS_SEQ).cast("long").alias(SYS_SEQ),
            (F.col("op") == F.lit("D")).alias(SYS_DELETED),
        )

        new_files = self._write_buckets(delta, schema.version, kind="delta")
        # metrics derived from the parquet footers / per-file delete stats the
        # write just recorded — deterministic by construction. The previous
        # Observation-based counters could mis-count under task retry /
        # recomputation (observe() is action-scoped), which showed up as an
        # intermittent lineage hash mismatch in long driver sessions.
        all_entries = [e for es in new_files.values() for e in es]
        metrics = {
            "rows_appended": sum(e["rows"] for e in all_entries),
            "tombstones": sum(e.get("del_rows", 0) for e in all_entries),
        }

        lineage_rec = {
            "batch_id": batch_id,
            "mode": "mor",
            "touched_buckets": sorted(int(b) for b in new_files),
            "per_bucket_rows": {b: sum(e["rows"] for e in es) for b, es in new_files.items()},
            "metrics": metrics,
            "seq_high_watermark": seq_high_watermark,
        }

        def _files(cur: dict) -> dict:
            files = {b: list(es) for b, es in cur["files"].items()}
            for b, es in new_files.items():
                files[b] = files.get(b, []) + es
            return files

        committed = self._commit_batch(_files, batch_id, seq_high_watermark, lineage_rec)
        if committed is None:
            return {"skipped_duplicate_batch": batch_id}

        # inline auto-compaction: fold buckets whose delta count crossed the
        # threshold (an async CompactionScheduler replaces this when attached)
        if self.compact_delta_files is not None:
            over = [
                int(b)
                for b, es in committed["files"].items()
                if sum(1 for e in es if e.get("kind") == "delta")
                > self.compact_delta_files
            ]
            if over:
                self.compact(buckets=over)
                lineage_rec["compacted_buckets"] = over
        return lineage_rec

    def compact(self, buckets: list[int] | None = None) -> list[int]:
        """MAJOR compaction: fold every file of the given buckets (all with
        deltas if None) — base ∪ deltas — into ONE new base file per bucket.
        Tombstones are kept (expire_tombstones drops them under a watermark
        policy). See `_fold` for the engine choice and the concurrency
        contract. Returns the buckets actually compacted."""
        return self._fold(buckets, "base", "compact")

    def rebucket(self, n_buckets: int) -> dict:
        """Bucket-layout evolution (Iceberg partition-spec-evolution-with-
        rewrite analog): rewrite the whole table into `n_buckets` hash
        buckets and commit the new layout. The layout is table state — a
        table sized for 10^8 events needs more buckets at 10^10, or every
        bucket outgrows executor memory during folds; rebucket is the
        one-off O(table) rewrite that re-sizes it (run it like a major
        compaction, during a quiet window).

        Optimistic concurrency: rows are re-hashed under the NEW layout, so
        a concurrent ingest commit in the OLD layout cannot be composed
        into the result — if any commit lands between our snapshot read and
        the swap, the commit raises RuntimeError and the caller retries
        (Iceberg fails a RewriteFiles on conflicting commits the same way).
        Time travel to pre-rebucket snapshots still works: old files stay
        until expire_snapshots collects them."""
        n_new = int(n_buckets)
        if n_new < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_new}")
        m = self.current_manifest()
        schema = TableSchema(**m["schema"])
        entries = [e for es in m["files"].values() for e in es]
        old_n = self.n_buckets
        self.n_buckets = n_new
        try:
            new_files = self._rewrite(entries, schema, "base")

            def _mutate(cur: dict) -> dict:
                if cur["snapshot_id"] != m["snapshot_id"]:
                    raise RuntimeError(
                        "rebucket conflict: table advanced from snapshot "
                        f"{m['snapshot_id']} to {cur['snapshot_id']} during the "
                        "rewrite; retry when ingest is quiesced"
                    )
                out = dict(cur)
                out["n_buckets"] = n_new
                out["files"] = {b: list(es) for b, es in new_files.items()}
                out["lineage"] = [
                    *cur["lineage"],
                    {"mode": "rebucket", "from_buckets": old_n,
                     "to_buckets": n_new},
                ]
                return out

            committed = self._commit_mutation(_mutate)
        except BaseException:
            self.n_buckets = old_n
            raise
        return {"snapshot_id": committed["snapshot_id"],
                "from_buckets": old_n, "to_buckets": n_new}

    def compact_minor(self, buckets: list[int] | None = None) -> list[int]:
        """MINOR compaction: merge each bucket's delta files into ONE delta
        file — WITHOUT reading the base. Reads O(delta rows), not O(bucket
        rows), so it is the cheap fold for big buckets with small deltas
        (Hudi's log-file compaction / RocksDB L0→L0 merge analog). Only
        buckets with ≥2 deltas are folded; folding one file is a no-op.

        Correct because the LWW collapse is associative and commutative
        (max_by over (lww, _seq)): collapsing the deltas among themselves
        first cannot change which row wins when readers later collapse
        base ∪ deltas. Tombstones are kept (they must keep suppressing base
        rows). Read amplification drops from k delta files per bucket to 1;
        the base rewrite is deferred until a MAJOR fold is actually worth
        its full-bucket read (CompactionPolicy decides which is due)."""
        return self._fold(buckets, "delta", "compact_minor")

    def _fold(self, buckets: list[int] | None, kind: str, mode: str) -> list[int]:
        """The one fold behind compact() (kind "base": all entries of a
        bucket, written as base) and compact_minor() (kind "delta": delta
        entries only, written as delta): pin → per-bucket engine → commit
        through the stale-pin rule (_commit_rewrite), recorded in the
        lineage under `mode`.

        The engine is decided per bucket from what the fold can see. A
        bucket whose pinned files fit ARROW_FOLD_MAX_BYTES folds with the
        pyarrow kernel on a driver thread pool (_arrow_fold_bucket): no
        Spark job, no exchange, no JVM memory traffic, so the fold stops
        competing with the ingest exchange for memory bandwidth (the
        measured 32-stream bottleneck). Larger buckets, and buckets the
        kernel rejects (mixed schema versions, key types pyarrow can't
        group on), go to the one Spark fold (_rewrite)."""
        m = self.current_manifest()
        schema = TableSchema(**m["schema"])
        minor = kind == "delta"

        def pick(b) -> list[dict]:
            es = m["files"].get(str(b), [])
            return [e for e in es if not minor or e.get("kind") == "delta"]

        def due(b) -> bool:
            n = sum(1 for e in m["files"].get(str(b), []) if e.get("kind") == "delta")
            return n > 1 if minor else n > 0

        if buckets is None:
            buckets = [int(b) for b in m["files"] if due(b)]
        elif minor:
            buckets = [b for b in buckets if due(b)]
        # pin the exact entries being folded (not "whatever is current later")
        pinned = {str(b): es for b in buckets if (es := pick(b))}
        if not pinned:
            return []

        new_files: dict[str, list[dict]] = {}
        spark_buckets = [b for b in pinned if not self._fits_arrow(pinned[b])]
        arrow = [b for b in pinned if b not in spark_buckets]
        if arrow:
            from concurrent.futures import ThreadPoolExecutor

            outdir = self._new_write_dir()

            def fold_one(b):
                try:
                    return b, _arrow_fold_bucket(self.root, b, pinned[b],
                                                 self.key_cols, self.lww_col, outdir, kind)
                except _ArrowFoldUnsupported:
                    return b, None

            with ThreadPoolExecutor(max_workers=min(8, len(arrow))) as ex:
                for b, entry in ex.map(fold_one, arrow):
                    if entry is None:
                        spark_buckets.append(b)
                    else:
                        new_files[b] = [entry]
        if spark_buckets:
            spark_entries = [e for b in spark_buckets for e in pinned[b]]
            for b, es in self._rewrite(spark_entries, schema, kind).items():
                new_files.setdefault(b, []).extend(es)
        return self._commit_rewrite(pinned, new_files, {
            "mode": mode, "folded_files": sum(map(len, pinned.values())),
        })

    def _commit_rewrite(self, pinned: dict[str, list[dict]],
                        new_files: dict[str, list[dict]], record: dict) -> list[int]:
        """Commit a rewrite of pinned per-bucket file sets (the folds,
        expire_tombstones) under THE stale-pin rule, Iceberg RewriteFiles
        semantics: a bucket takes the rewrite's output only if every path
        pinned from it is still in it; the pinned paths are then replaced
        and files appended meanwhile (a live writer's deltas) survive.
        Otherwise the bucket stays exactly as committed — another fold
        consumed a pinned file, a CoW merge rewrote the bucket, a rebucket
        or rollback replaced it, or an expiry dropped it — and our output
        ages out as a grace-period orphan: committing it would re-add rows
        the winner already rewrote (duplicated or resurrected keys) or
        bring back a bucket the layout no longer has. Returns the buckets
        that took the output; `record` plus them goes into the lineage."""
        if not set(new_files) <= set(pinned):
            return []  # written under another bucket layout than pinned from
        done: list[int] = []

        def _mutate(cur: dict) -> dict:
            done.clear()
            files = {}
            for b, es in cur["files"].items():
                pin = {e["path"] for e in pinned.get(b, [])}
                if pin and pin <= {e["path"] for e in es}:
                    # entry order in the manifest is irrelevant to readers —
                    # read_full collapses base ∪ deltas by LWW either way
                    merged = new_files.get(b, []) + [e for e in es if e["path"] not in pin]
                    done.append(int(b))
                    if merged:
                        files[b] = merged
                else:
                    files[b] = list(es)
            out = dict(cur)
            out["files"] = files
            out["lineage"] = [*cur["lineage"], {**record, "compacted_buckets": sorted(done)}]
            return out

        self._commit_mutation(_mutate)
        return sorted(done)

    def _rewrite(self, entries: list[dict], schema: TableSchema, kind: str) -> dict:
        """The Spark fold: read `entries`, collapse to one row per key, write
        them as `kind` files in the current bucket layout ({} if none)."""
        df = self._read_files(entries, schema)
        if df is None:
            return {}
        return self._write_buckets(self._collapse_rows(df), schema.version, kind=kind)

    def _fits_arrow(self, entries: list[dict]) -> bool:
        """Whether an arrow fold may hold these files (an unreadable one
        routes the bucket to the Spark fold)."""
        try:
            size = sum(os.path.getsize(os.path.join(self.root, e["path"])) for e in entries)
        except OSError:
            return False
        return size <= ARROW_FOLD_MAX_BYTES

    def expire_tombstones(self, watermark=None) -> None:
        """Housekeeping rewrite dropping tombstones.

        `watermark` (a value comparable to lww_col, e.g. a timestamp) bounds
        the out-of-order window: only tombstones with lww < watermark are
        dropped — a late update older than a *retained* tombstone still
        correctly loses, while fully-aged deletes stop paying storage. With
        watermark=None every tombstone is dropped (only safe once the stream
        is fully quiesced).

        Concurrency-safe against live writers, RewriteFiles-style: the
        rewrite reads a PINNED set of file entries and commits through the
        stale-pin rule (_commit_rewrite) — delta files appended while the
        rewrite ran survive untouched (readers keep collapsing the new base
        with them by LWW), and a bucket a concurrent CoW merge rewrote keeps
        that merge's files."""
        m = self.current_manifest()
        schema = TableSchema(**m["schema"])
        pinned = {b: es for b, es in m["files"].items() if es}
        if not pinned:
            return
        df = self.read_full(manifest=m)
        keep = ~F.col(SYS_DELETED)
        if watermark is not None:
            keep = keep | (F.col(self.lww_col) >= F.lit(watermark))
        files = self._write_buckets(df.filter(keep), schema.version)
        self._commit_rewrite(pinned, files, {
            "mode": "expire_tombstones",
            "watermark": None if watermark is None else str(watermark),
        })

    # ---------- time travel + snapshot/file maintenance ----------

    def snapshot_ids(self) -> list[int]:
        """Snapshot ids still on disk (the time-travelable window)."""
        out = []
        for fn in os.listdir(os.path.join(self.root, "snapshots")):
            if fn.startswith("snap-") and fn.endswith(".json"):
                out.append(int(fn[5:-5]))
        return sorted(out)

    def manifest_at(self, snapshot_id: int) -> dict:
        p = os.path.join(self.root, "snapshots", f"snap-{snapshot_id:06d}.json")
        if not os.path.exists(p):
            raise ValueError(
                f"snapshot {snapshot_id} expired or never existed "
                f"(retained: {self.snapshot_ids()})"
            )
        with open(p) as f:
            return self._resolve_files(json.load(f))

    def _parent_of(self, snapshot_id: int) -> int | None:
        """Parent pointer only, from the raw snapshot json — no bucket
        manifest resolution (parent-chain walks stay O(1) per hop even on
        two-level-manifest tables). FileNotFoundError if expired."""
        p = os.path.join(self.root, "snapshots", f"snap-{snapshot_id:06d}.json")
        with open(p) as f:
            return json.load(f).get("parent")

    # ---------- named refs (Iceberg tags) ----------

    def _refs_path(self) -> str:
        return os.path.join(self.root, "refs.json")

    def refs(self) -> dict[str, int]:
        """Named refs (Iceberg tag analog): {tag_name: snapshot_id}. Stored
        beside the snapshots, not inside them — as in Iceberg, refs are
        table metadata that survives every commit untouched."""
        p = self._refs_path()
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin a name to a retained snapshot (current if not given). Tagged
        snapshots are exempt from expire_snapshots — the write-audit-publish
        pattern: tag the audited snapshot, publish by reading the tag."""
        with self._commit_lock, self._process_lock():
            sid = self.snapshot_id() if snapshot_id is None else int(snapshot_id)
            self.manifest_at(sid)  # raises if expired / never existed
            refs = self.refs()
            refs[name] = sid
            _atomic_write(self._refs_path(), json.dumps(refs))
            return sid

    def untag(self, name: str) -> None:
        with self._commit_lock, self._process_lock():
            refs = self.refs()
            refs.pop(name, None)
            _atomic_write(self._refs_path(), json.dumps(refs))

    def _resolve_ref(self, ref: int | str) -> int:
        if isinstance(ref, str):
            refs = self.refs()
            if ref not in refs:
                raise ValueError(f"unknown tag {ref!r} (tags: {sorted(refs)})")
            return refs[ref]
        return int(ref)

    def rollback(self, to: int | str) -> dict:
        """Revert the table to a retained snapshot as a NEW commit (Iceberg
        rollback semantics: history moves forward, state moves back). Files,
        schema, committed-batch ledger, and seq watermark are restored from
        the target manifest, so batches undone by the rollback may be
        legitimately re-applied — replay-from-checkpoint after a rollback
        reconstructs the same final state. Data files are never touched;
        the target's files are still on disk because its manifest is
        retained (expire_snapshots collects only unreferenced files)."""
        sid = self._resolve_ref(to)
        tgt = self.manifest_at(sid)

        def _mutate(cur: dict) -> dict:
            return {
                "schema": tgt["schema"],
                "n_buckets": tgt.get("n_buckets", self.n_buckets),
                "files": tgt["files"],
                "committed_batches": tgt["committed_batches"],
                "seq_high_watermark": tgt.get("seq_high_watermark", -1),
                "lineage": [*cur["lineage"], {"rollback_to": sid}],
            }

        m = self._commit_mutation(_mutate)
        return {"snapshot_id": m["snapshot_id"], "rolled_back_to": sid}

    # ---------- branches (Iceberg branch refs) ----------

    def branch(self, name: str, create: bool = True) -> "ParquetSnapshotTableIO":
        """A writable handle on a named branch — the full write-audit-publish
        pattern: commit batches to `branch("audit")`, validate its `read()`,
        then `fast_forward("audit")` main. Until then, main's readers never
        see the staged commits (Iceberg's branch refs + WAP workflow).

        The branch is just another head pointer file (`_branch-<name>`)
        over the same snapshot/manifest store; the returned handle shares
        this handle's commit lock (and the cross-process flock — both
        pointers live in the same table root), so branch and main
        committers serialize exactly like any two writers. Data files are
        shared structurally: a branch commit rewrites only its touched
        buckets' manifests, like any commit."""
        if not _BRANCH_NAME_RE.match(name):
            raise ValueError(f"invalid branch name {name!r}")
        import copy

        ptr = os.path.join(self.root, f"_branch-{name}")
        with self._commit_lock, self._process_lock():
            if not os.path.exists(ptr):
                if not create:
                    raise ValueError(f"unknown branch {name!r}")
                with open(self._current_path()) as f:
                    head = f.read().strip()
                _atomic_write(ptr, head)
        b = copy.copy(self)  # shares locks, spark, manifest cache
        b._pointer_name = f"_branch-{name}"
        m = b.current_manifest()
        if m is not None and "n_buckets" in m:
            b.n_buckets = int(m["n_buckets"])
        return b

    def branches(self) -> dict[str, int]:
        """{branch_name: head snapshot id} for every branch pointer."""
        out: dict[str, int] = {}
        for fn in os.listdir(self.root):
            if fn.startswith("_branch-") and ".tmp-" not in fn:
                with open(os.path.join(self.root, fn)) as f:
                    out[fn[len("_branch-"):]] = int(f.read().strip()[5:-5])
        return out

    def fast_forward(self, name: str) -> dict:
        """Publish a branch: move THIS handle's head to the branch head,
        iff this head is an ancestor of it (walked over `parent` pointers).
        A diverged head (commits landed here since the fork) raises — the
        caller rebases by re-applying its batches onto the branch, exactly
        as Iceberg's fast_forward fails on non-ancestors. The swap is a
        pointer rename: no data or manifest IO at all."""
        with self._commit_lock, self._process_lock():
            heads = self.branches()
            if name not in heads:
                raise ValueError(f"unknown branch {name!r} (have: {sorted(heads)})")
            target = heads[name]
            mine = self.snapshot_id()
            sid = target
            while sid is not None and sid > mine:
                try:
                    sid = self._parent_of(sid)
                except FileNotFoundError:
                    # an expired mid-chain snapshot means we cannot PROVE
                    # ancestry — report the clean divergence error, not a
                    # missing-manifest crash
                    sid = None
            if sid != mine:
                raise RuntimeError(
                    f"cannot fast-forward: head {mine} is not an ancestor of "
                    f"branch {name!r} head {target}; re-apply local commits "
                    "onto the branch"
                )
            _atomic_write(self._current_path(), f"snap-{target:06d}.json")
        return {"fast_forwarded_to": target, "from": mine}

    def drop_branch(self, name: str) -> None:
        with self._commit_lock, self._process_lock():
            try:
                os.remove(os.path.join(self.root, f"_branch-{name}"))
            except FileNotFoundError:
                pass

    # ---------- metadata tables (Iceberg .snapshots / .files analog) -----

    def meta_snapshots(self) -> DataFrame:
        """One row per retained snapshot: id, parent, file/row/batch counts.
        Driver-side metadata, O(retained manifests) — same class as
        Iceberg's `.snapshots` metadata table."""
        rows = []
        for sid in self.snapshot_ids():
            m = self.manifest_at(sid)
            es = [e for fes in m["files"].values() for e in fes]
            rows.append(
                (
                    sid,
                    m.get("parent"),
                    len(es),
                    sum(e["rows"] for e in es),
                    sum(1 for e in es if e.get("kind") == "delta"),
                    len(m["committed_batches"]),
                    m["schema"]["version"],
                )
            )
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, parent long, n_files long, n_rows long, "
            "n_delta_files long, n_batches long, schema_version long",
        )

    def meta_files(self, snapshot_id: int | str | None = None) -> DataFrame:
        """One row per data file of a snapshot (current if not given):
        bucket, path, kind, rows, tombstone rows, footer lww bounds —
        the pruning statistics `read(lww_after=...)` plans against."""
        m = (
            self.current_manifest()
            if snapshot_id is None
            else self.manifest_at(self._resolve_ref(snapshot_id))
        )
        rows = []
        for b, es in m["files"].items():
            for e in es:
                rows.append(
                    (
                        int(b),
                        e["path"],
                        e.get("kind", "base"),
                        e["rows"],
                        e.get("del_rows"),
                        e.get("lww_min"),
                        e.get("lww_max"),
                        e.get("schema_version", 0),
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "bucket int, path string, kind string, rows long, del_rows long, "
            "lww_min long, lww_max long, schema_version long",
        )

    def meta_lineage(self) -> DataFrame:
        """One row per lineage record of the current snapshot — applies,
        compactions, rebuckets, rollbacks, expiries — in commit order
        (Delta DESCRIBE HISTORY analog). Fixed columns for the fields every
        consumer filters on; the full heterogeneous record rides along as a
        JSON string in `detail`."""
        m = self.current_manifest()
        rows = []
        for i, rec in enumerate(m.get("lineage", [])):
            metrics = rec.get("metrics") or {}
            rows.append(
                (
                    i,
                    rec.get("mode")
                    or ("rollback" if "rollback_to" in rec else "merge"),
                    rec.get("batch_id"),
                    rec.get("snapshot_id"),
                    sorted(rec.get("touched_buckets", [])) or None,
                    {k: int(v) for k, v in metrics.items()} or None,
                    json.dumps(rec, sort_keys=True),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "ordinal int, mode string, batch_id string, snapshot_id long, "
            "touched_buckets array<int>, metrics map<string,long>, "
            "detail string",
        )

    def read_at(self, snapshot_id: int | str) -> DataFrame | None:
        """Time-travel read: the visible table as of a retained snapshot
        (by id or tag name)."""
        m = self.manifest_at(self._resolve_ref(snapshot_id))
        names = TableSchema(**m["schema"]).names()
        return self.read_full(manifest=m).filter(~F.col(SYS_DELETED)).select(*names)

    @staticmethod
    def _changed_buckets(m_from: dict, m_to: dict) -> list[int]:
        """Buckets whose file set differs between two manifests. A bucket an
        interval never touched is excluded, so the incremental read below
        scales with the churned fraction of the table, not its size.
        (A compaction-only bucket still qualifies — its files were rewritten
        — but its state diff is empty, which read_changes handles.)"""
        fa = {b: {e["path"] for e in es} for b, es in m_from["files"].items()}
        fb = {b: {e["path"] for e in es} for b, es in m_to["files"].items()}
        out = []
        for b in set(fa) | set(fb):
            if fa.get(b, set()) != fb.get(b, set()):
                out.append(int(b))
        return sorted(out)

    def read_changes(
        self,
        from_snapshot_id: int | str,
        to_snapshot_id: int | str | None = None,
        images: str = "net",
    ) -> DataFrame:
        """Incremental CDC read (Iceberg's changelog scan / Delta CDF): the
        NET row-level changes between two retained snapshots (by id or tag
        name), one event per changed key with `_change_type` in
        ('insert','update','delete') — after-image columns for
        insert/update, before-image for delete.

        `images`: "net" (default) emits one row per changed key; "cdf"
        emits Delta-CDF-style rows — updates become TWO rows,
        `update_preimage` (old values) + `update_postimage` (new values) —
        so downstream consumers (incremental aggregate maintenance,
        cdc/incremental.py) can retract the old contribution and add the
        new one without reading either table state.

        Scale path: the two manifests' file-set diff names the buckets the
        interval touched; only those buckets are read and LWW-collapsed at
        both endpoints, then compared with ONE key-partitioned full-outer
        join (both sides arrive hash-partitioned on the key from their
        collapse, so the join adds no exchange under AQE). An interval that
        churned k of n buckets reads ~k/n of the table. Compaction-only
        rewrites compare equal and emit nothing.

        Cross-snapshot schema evolution is reconciled by field id: the
        from-state is read UNDER the to-snapshot's schema (rename/widen
        applied, added columns null-filled), so a rename between the
        endpoints does not masquerade as a delete+insert.

        Reference parity: Kettle has no table history at all — its closest
        analog is the MergeRows(diff) step over two full reads (SURVEY §2.3);
        this is that diff computed from manifest metadata instead of a full
        scan. Iceberg semantics: net changes, like a changelog scan with
        net_changes=true."""
        m_to = (
            self.current_manifest()
            if to_snapshot_id is None
            else self.manifest_at(self._resolve_ref(to_snapshot_id))
        )
        m_from = self.manifest_at(self._resolve_ref(from_snapshot_id))
        if m_to["snapshot_id"] < m_from["snapshot_id"]:
            raise ValueError(
                f"to_snapshot {m_to['snapshot_id']} precedes from_snapshot "
                f"{m_from['snapshot_id']}"
            )
        schema = TableSchema(**m_to["schema"])
        names = schema.names()
        buckets = self._changed_buckets(m_from, m_to)

        def _state(m: dict) -> DataFrame | None:
            entries = [
                e
                for b, es in m["files"].items()
                if int(b) in buckets
                for e in es
            ]
            # read under the TO schema: its history covers every older
            # version, so files from either endpoint reconcile by field id
            df = self._read_files(entries, schema)
            if df is None:
                return None
            return self._collapse_rows(df)

        old, new = _state(m_from), _state(m_to)
        empty = self.spark.createDataFrame(
            [], schema.to_struct().add("_change_type", "string")
        )
        if new is None and old is None:
            return empty
        data_cols = [c for c in names if c not in self.key_cols]

        def _tag(df: DataFrame | None, side: str) -> DataFrame:
            if df is None:
                df = self.spark.createDataFrame(
                    [],
                    self.spark.createDataFrame([], schema.to_struct())
                    .withColumn(SYS_SEQ, F.lit(None).cast("long"))
                    .withColumn(SYS_DELETED, F.lit(False))
                    .schema,
                )
            keep = [
                *self.key_cols,
                F.struct(
                    *[F.col(c) for c in data_cols], F.col(SYS_DELETED)
                ).alias(side),
            ]
            return df.select(*keep)

        j = _tag(old, "o").join(_tag(new, "n"), on=list(self.key_cols), how="full")
        o_live = F.col("o").isNotNull() & ~F.col(f"o.{SYS_DELETED}")
        n_live = F.col("n").isNotNull() & ~F.col(f"n.{SYS_DELETED}")
        same = F.struct(*[F.col(f"o.{c}") for c in data_cols]).eqNullSafe(
            F.struct(*[F.col(f"n.{c}") for c in data_cols])
        )
        change = (
            F.when(~o_live & n_live, F.lit("insert"))
            .when(o_live & ~n_live, F.lit("delete"))
            .when(o_live & n_live & ~same, F.lit("update"))
        )
        if images not in ("net", "cdf"):
            raise ValueError(f"images must be 'net' or 'cdf', got {images!r}")
        classified = j.withColumn("_change_type", change).filter(
            F.col("_change_type").isNotNull()
        )
        if images == "net":
            img = F.when(F.col("_change_type") == "delete", F.col("o")).otherwise(
                F.col("n")
            )
            out = classified.withColumn("_img", img)
            return out.select(
                *self.key_cols,
                *[F.col(f"_img.{c}").alias(c) for c in data_cols],
                "_change_type",
            )
        # cdf: explode updates into preimage+postimage; inserts/deletes are
        # single rows. One generator, no second pass over either state.
        sides = F.when(
            F.col("_change_type") == "insert",
            F.array(F.struct(F.lit("insert").alias("t"), F.col("n").alias("v"))),
        ).when(
            F.col("_change_type") == "delete",
            F.array(F.struct(F.lit("delete").alias("t"), F.col("o").alias("v"))),
        ).otherwise(
            F.array(
                F.struct(F.lit("update_preimage").alias("t"), F.col("o").alias("v")),
                F.struct(F.lit("update_postimage").alias("t"), F.col("n").alias("v")),
            )
        )
        ex = classified.select(
            *self.key_cols, F.explode(sides).alias("_e")
        )
        return ex.select(
            *self.key_cols,
            *[F.col(f"_e.v.{c}").alias(c) for c in data_cols],
            F.col("_e.t").alias("_change_type"),
        )

    def expire_snapshots(
        self,
        keep_last: int = 5,
        grace_seconds: float = 3600.0,
        older_than: float | None = None,
    ) -> dict:
        """Iceberg-style maintenance: drop snapshot manifests outside the
        retained window, then garbage-collect data files no retained snapshot
        references (covers both expired-snapshot files and orphans left by
        crashed writers).

        Retention composes like Iceberg's ExpireSnapshots: a snapshot
        expires only if it is BOTH outside every head's `keep_last`-ancestor
        parent chain (main and each branch keep their own last `keep_last`
        ancestors) AND (when `older_than` is given, a Unix timestamp)
        committed before it — age alone never erodes the keep_last floor,
        and recency alone never retains beyond it once older_than passes.
        The current snapshot, tag targets, and branch heads are always
        retained.

        Concurrent writers are protected two ways: a LIVE writer's
        uncommitted dirs carry in-flight markers (see INFLIGHT_TTL) and are
        skipped outright — even at grace_seconds=0 — while `grace_seconds`
        additionally keeps ANY young unreferenced file (covering writers
        older than this engine that left no marker, e.g. external tools).
        Driver-side metadata work is O(retained manifests + files on disk) —
        the same complexity class as Iceberg's ExpireSnapshots action."""
        import time as _time

        with self._commit_lock, self._process_lock():
            cur = self.current_manifest()
            if cur is None:
                return {"expired_snapshots": [], "deleted_files": 0}
            ids = self.snapshot_ids()
            on_disk = set(ids)
            # keep_last counts ANCESTORS ALONG EACH HEAD'S PARENT CHAIN
            # (main + every branch), not an id window: snapshot ids are
            # allocated globally across branches, so a chain's ids are
            # sparse under interleaved branch commits and id arithmetic
            # would retain fewer than keep_last ancestors of a head —
            # expiring a mid-chain ancestor a later fast_forward walk needs.
            keep: set[int] = set(self.refs().values())  # tags pin (Iceberg)
            heads = {cur["snapshot_id"], *self.branches().values()}
            # the MAIN head is a head even when expiry runs on a branch
            # handle (cur is then the branch head, and _branch-* listing
            # doesn't cover _current)
            main_ptr = os.path.join(self.root, "_current")
            if os.path.exists(main_ptr):
                with open(main_ptr) as f:
                    heads.add(int(f.read().strip()[5:-5]))
            for head in heads:
                sid, hops = head, 0
                while sid is not None and hops < max(keep_last, 1):
                    if sid not in on_disk:
                        break  # already expired past here in an earlier run
                    keep.add(sid)
                    hops += 1
                    sid = self._parent_of(sid)

            def _expirable(i: int) -> bool:
                if i in keep:
                    return False
                if older_than is not None:
                    p = os.path.join(self.root, "snapshots", f"snap-{i:06d}.json")
                    try:  # commit wall-clock = the manifest file's mtime
                        if os.path.getmtime(p) >= older_than:
                            return False
                    except FileNotFoundError:
                        return False
                return True

            expired = [i for i in ids if _expirable(i)]
            retained = [i for i in ids if i not in set(expired)]
            referenced: set[str] = set()
            referenced_manifests: set[str] = set()
            for i in retained:
                m = self.manifest_at(i)
                for es in m["files"].values():
                    referenced.update(e["path"] for e in es)
                referenced_manifests.update(m.get("files_manifests", {}).values())
                referenced_manifests.update(m.get("lineage_segments", []))
                referenced_manifests.update(m.get("committed_batches_segments", []))
            for i in expired:
                os.remove(os.path.join(self.root, "snapshots", f"snap-{i:06d}.json"))
            # bucket-manifest GC: content-addressed manifests no retained
            # snapshot points at (same grace as data files — a concurrent
            # committer may have written its manifests but not yet swapped
            # the `_current` pointer)
            man_root = os.path.join(self.root, "manifests")
            for fn in os.listdir(man_root):
                if fn.endswith(".json") and fn not in referenced_manifests:
                    full = os.path.join(man_root, fn)
                    try:
                        if _time.time() - os.path.getmtime(full) >= grace_seconds:
                            os.remove(full)
                    except FileNotFoundError:
                        continue
            # orphan GC: unreferenced, old-enough data files
            deleted = 0
            now = _time.time()
            data_root = os.path.join(self.root, "data")
            # live in-flight markers shield another process's uncommitted
            # write dirs from the orphan pass EVEN AT grace_seconds=0 — a
            # mid-commit writer's files are unreferenced by construction
            # and grace alone can't tell them from crash debris. Markers
            # past INFLIGHT_TTL are crash debris themselves: drop the
            # marker and let the files take the normal grace-aged path.
            inflight_root = os.path.join(self.root, "_inflight")
            protected: set[str] = set()
            if os.path.isdir(inflight_root):
                for fn in os.listdir(inflight_root):
                    mk = os.path.join(inflight_root, fn)
                    try:
                        if now - os.path.getmtime(mk) < INFLIGHT_TTL:
                            protected.add(fn)
                        else:
                            os.remove(mk)
                    except OSError:
                        continue
            for dirpath, _dn, fns in os.walk(data_root, topdown=False):
                rel_dir = os.path.relpath(dirpath, data_root)
                if rel_dir != ".":
                    top = rel_dir.split(os.sep)[0]
                    # TOCTOU guard: the _inflight listing above ran BEFORE
                    # this walk, so a writer that registered its marker
                    # after the listing (but whose files already landed)
                    # would be unprotected — re-check the marker path per
                    # candidate dir. Writer-side ordering (marker created
                    # before any file) makes this re-check sufficient.
                    if top in protected or os.path.exists(
                        os.path.join(inflight_root, top)
                    ):
                        continue  # another writer's live uncommitted dir
                if "_temporary" in dirpath.split(os.sep):
                    # Spark's in-flight task-attempt area: files here are
                    # renamed into place at job commit, so any path we list
                    # can vanish before we stat it — and they are never
                    # orphans (the job commit or abort owns their lifecycle)
                    continue
                for fn in fns:
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, self.root)
                    if fn.endswith(".parquet") and rel not in referenced:
                        try:
                            if now - os.path.getmtime(full) >= grace_seconds:
                                os.remove(full)
                                deleted += 1
                        except FileNotFoundError:
                            # a concurrent writer renamed/removed it between
                            # the walk listing and the stat — not an orphan
                            continue
                try:  # prune empty dirs left behind; the grace period
                    # applies to DIRECTORIES too — a concurrent writer's
                    # staging dir (data/w-<uuid>) is empty until its first
                    # task commits a file, and rmdir-ing it mid-write fails
                    # the whole ingest batch
                    if (
                        not os.listdir(dirpath)
                        and dirpath != data_root
                        and now - os.path.getmtime(dirpath) >= grace_seconds
                    ):
                        os.rmdir(dirpath)
                except OSError:
                    pass
        return {"expired_snapshots": expired, "deleted_files": deleted}

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
