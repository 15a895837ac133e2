"""Scheduled / asynchronous compaction for merge-on-read tables.

The MoR fast path (parquet_snapshot._merge_apply_mor) makes ingest cost
O(changes) by appending per-bucket delta files; the price is read
amplification that grows with delta count. Folding deltas back into base is
embarrassingly parallel per bucket and has no ordering dependency on ingest —
so at scale it belongs OFF the ingest critical path (Iceberg's
rewrite_data_files maintenance job / Hudi's async compactor). This module is
that job:

  * `CompactionPolicy` — pure function over a manifest: which buckets are
    due. Triggers on delta-file count, so a hot bucket compacts often and a
    cold one never does.
  * `run_compaction_cycle` — one policy evaluation + compact() call; use
    from a cron/Airflow-style external scheduler at cluster scale.
  * `CompactionScheduler` — in-process background thread driving cycles on
    an interval; what the sandbox (and any single-driver deployment) uses.
    Safe against the live ingest writer because ParquetSnapshotTableIO
    commits are mutation-based under the table's commit lock and compact()
    folds a pinned file set (RewriteFiles semantics).

To hand compaction fully to the scheduler, construct the table with
`compact_delta_files=None` (disables the inline fold inside the batch
commit) and attach a scheduler.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO


@dataclass
class CompactionPolicy:
    """A bucket is due when it carries more than `max_delta_files` delta
    files."""

    max_delta_files: int = 8
    # Phase-shift each bucket's delta-count threshold by (bucket mod
    # (stagger+1)): with uniform ingest every bucket gains one delta per
    # batch, so all n_buckets cross the SAME threshold in the same cycle and
    # the first major-fold wave lands on one batch — the measured 32-stream
    # batch-tail spike. stagger=k splits that wave into k+1 sub-waves one
    # batch apart, at the cost of ≤k extra delta files on the later buckets.
    # Unlike a per-cycle bucket cap (measured and rejected: deferred buckets
    # re-fold as deltas keep arriving), staggering never folds a bucket
    # twice for one wave — it only moves each bucket's fold earlier/later.
    stagger: int = 0
    # MAJOR folds (rewrite the whole bucket) only when the deltas amount to
    # at least this share of the bucket — below it the due bucket gets a
    # MINOR fold (merge deltas into one delta file, base untouched:
    # ParquetSnapshotTableIO.compact_minor). A big bucket with a trickle of
    # deltas then costs O(delta rows) per fold instead of re-reading and
    # rewriting its base every cycle — the base-read traffic is what made
    # 32-stream drain folds memory-bandwidth-bound. None = always major.
    major_min_delta_share: float | None = None

    def plan(self, manifest: dict) -> dict[str, list[int]]:
        """{'major': [...], 'minor': [...]} buckets due, in bucket order."""
        major: list[int] = []
        minor: list[int] = []
        for b, entries in manifest.get("files", {}).items():
            deltas = [e for e in entries if e.get("kind") == "delta"]
            if len(deltas) <= self.max_delta_files + int(b) % (self.stagger + 1):
                continue
            share = sum(e["rows"] for e in deltas) / (sum(e["rows"] for e in entries) or 1)
            if (
                self.major_min_delta_share is not None
                and share < self.major_min_delta_share
            ):
                if len(deltas) > 1:  # merging one file is a no-op
                    minor.append(int(b))
            else:
                major.append(int(b))
        return {"major": sorted(major), "minor": sorted(minor)}

    def buckets_due(self, manifest: dict) -> list[int]:
        p = self.plan(manifest)
        return sorted(p["major"] + p["minor"])


def run_compaction_cycle(
    table: ParquetSnapshotTableIO, policy: CompactionPolicy | None = None
) -> list[int]:
    """Evaluate the policy against the current manifest and compact the due
    buckets. Returns the buckets compacted (empty when nothing was due)."""
    policy = policy or CompactionPolicy()
    m = table.current_manifest()
    if m is None:
        return []
    p = policy.plan(m)
    done: list[int] = []
    if p["minor"]:
        done += table.compact_minor(buckets=p["minor"])
    if p["major"]:
        done += table.compact(buckets=p["major"])
    return sorted(set(done))


def optimize(
    table: ParquetSnapshotTableIO,
    policy: CompactionPolicy | None = None,
    keep_last: int = 5,
    grace_seconds: float = 3600.0,
    tombstone_watermark=None,
    older_than: float | None = None,
) -> dict:
    """One-call maintenance sweep (Iceberg OPTIMIZE + VACUUM analog), in
    the order that maximizes what each step can reclaim:

      1. compact due buckets (policy-routed minor/major folds),
      2. expire tombstones past the out-of-order watermark (if given),
      3. expire snapshots + GC orphan data files, unreferenced bucket
         manifests, and frozen ledger segments.

    Each step is an ordinary optimistic commit, so optimize() is safe to
    run beside live ingest — the same guarantee every step already has
    individually (the 3-writer stress test exercises exactly this). At
    cluster scale, schedule it like Iceberg maintenance: off-peak, or
    continuously via CompactionScheduler + a periodic expire job."""
    compacted = run_compaction_cycle(table, policy)
    if tombstone_watermark is not None:
        table.expire_tombstones(tombstone_watermark)
    exp = table.expire_snapshots(keep_last=keep_last, grace_seconds=grace_seconds,
                                 older_than=older_than)
    return {
        "compacted_buckets": compacted,
        "expired_snapshots": exp["expired_snapshots"],
        "deleted_files": exp["deleted_files"],
    }


class CompactionScheduler:
    """Background compactor: runs `run_compaction_cycle` every `interval_sec`
    until stopped. Spark is thread-safe for job submission, so the fold jobs
    interleave with ingest batches on the shared scheduler pools."""

    def __init__(
        self,
        table: ParquetSnapshotTableIO,
        policy: CompactionPolicy | None = None,
        interval_sec: float = 30.0,
    ):
        self.table = table
        self.policy = policy or CompactionPolicy()
        self.interval_sec = interval_sec
        self.cycles = 0
        self.compacted: list[list[int]] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._error: BaseException | None = None

    def start(self) -> "CompactionScheduler":
        if self._thread is not None:
            raise RuntimeError("scheduler already started")
        self._thread = threading.Thread(
            target=self._loop, name="pks-compaction", daemon=True
        )
        self._thread.start()
        return self

    def _loop(self) -> None:
        # when the session runs spark.scheduler.mode=FAIR, fold jobs land in
        # a dedicated low-weight pool so ingest batches keep their slots
        # (task-level yielding beats capping the fold size: capped folds get
        # re-folded as deltas keep arriving, inflating total rewrite work)
        try:
            self.table.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "pks_compaction"
            )
        except Exception:  # noqa: BLE001 - inert under FIFO / stopped session
            pass
        while not self._stop.wait(self.interval_sec):
            try:
                done = run_compaction_cycle(self.table, self.policy)
                self.cycles += 1
                if done:
                    self.compacted.append(done)
            except BaseException as exc:  # surface on stop(); don't die silently
                self._error = exc
                return

    def stop(self, final_cycle: bool = True) -> None:
        """Stop the loop; optionally run one last fold so the table ends
        fully compacted (what a drain-and-shutdown deployment wants)."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=600)
        if self._error is not None:
            raise RuntimeError("compaction scheduler failed") from self._error
        if final_cycle:
            done = run_compaction_cycle(self.table, self.policy)
            if done:
                self.compacted.append(done)

    def __enter__(self) -> "CompactionScheduler":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
