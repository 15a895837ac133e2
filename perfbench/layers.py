"""Per-layer metrics for the traced run.

`install` wraps the program's module-level functions and public methods in
spans; `pass_metrics` turns the spans and Spark jobs of one traced pass into
the per-layer figures listed in BENCHMARK.json. A layer a workload bypasses
reports 0.
"""

from __future__ import annotations

import os

from perfbench.harness import cores, median
from perfbench.tracer import covered, descendants, self_times
from perfbench.workloads import QUERIES

CLIENT_READS = ("client.lookup", "client.scan", "client.recent_scan", "client.changes_feed")


def _files_written(sp, args, rec) -> None:
    """Files and bytes one merge_apply commit added, from the manifest diff
    between its snapshot and its parent."""
    table = args[0]
    if not isinstance(rec, dict) or "snapshot_id" not in rec:
        return
    new = table.manifest_at(rec["snapshot_id"])
    old = set()
    if new.get("parent") is not None:
        old = {e["path"] for es in table.manifest_at(new["parent"])["files"].values() for e in es}
    added = [e["path"] for es in new["files"].values() for e in es if e["path"] not in old]
    sp.attrs["files"] = len(added)
    sp.attrs["bytes"] = sum(os.path.getsize(os.path.join(table.root, p)) for p in added)


def _folded(sp, args, done) -> None:
    """Buckets one compact()/compact_minor() call folded and the bytes of the
    files it read to do so."""
    table = args[0]
    buckets = {str(b) for b in (done or [])}
    sp.attrs["buckets"] = len(buckets)
    m = sp.attrs.pop("manifest", None) or {"files": {}}
    minor = sp.name.endswith("minor")
    sp.attrs["bytes"] = sum(
        os.path.getsize(os.path.join(table.root, e["path"]))
        for b, es in m["files"].items() if b in buckets
        for e in es if not minor or e.get("kind") == "delta"
        if os.path.exists(os.path.join(table.root, e["path"])))


def install(tracer) -> None:
    from pentaho_kettle_spark.cdc import lww, replay, skew
    from pentaho_kettle_spark.tableio import compaction
    from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO as P

    p = tracer.patch
    p(replay, "replay_changelog", "cdc.replay.replay_changelog")
    p(replay, "_footer_ts_bounds", "cdc.replay.bounds", group=False,
      after=lambda sp, a, out: sp.attrs.update(fallback=out is None))
    p(replay, "apply_batch", "cdc.replay.apply_batch", cross_parent="cdc.replay.replay_changelog")
    p(replay, "evolve_and_conform", "cdc.schema_evolution.conform")
    p(skew, "hot_key_counts", "cdc.skew.hot_key_counts")
    p(skew, "should_salt", "cdc.skew.should_salt", group=False,
      after=lambda sp, a, out: sp.attrs.update(salted=bool(out)))
    for f in ("lww_collapse_bucketed", "lww_collapse", "lww_collapse_salted"):
        p(lww, f, "cdc.lww.collapse_plan", group=False)
    p(P, "merge_apply", "tableio.merge_apply", after=_files_written)
    p(P, "current_manifest", "tableio.manifest_read", group=False)
    p(compaction, "run_compaction_cycle", "tableio.compaction.cycle")
    for meth, name in (("compact", "tableio.compaction.major"),
                       ("compact_minor", "tableio.compaction.minor")):
        # the pre-fold manifest is read through the unwrapped method, so the
        # read is not counted as one of the program's manifest reads
        p(P, meth, name, after=_folded, before=lambda sp, a: sp.attrs.update(
            manifest=a[0].current_manifest.__wrapped__(a[0])))
    for meth in ("read", "read_key", "read_changes"):
        p(P, meth, f"tableio.read.{meth}", group=False)


def _sum(jobs, key) -> int:
    return sum(s[key] for j in jobs for s in j["stages"])


def pass_metrics(spans: list, jobs: list[dict], t0: float, t1: float,
                 events: int, client_thread: str) -> dict[str, float]:
    """Per-layer figures of one traced pass: the spans and Spark jobs
    recorded in its timed window [t0, t1], and the events it delivered."""
    self_t = self_times(spans)
    by = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)

    def dur(name):
        return [s.end - s.start for s in by.get(name, [])]

    def total(name):
        return sum(dur(name))

    def group_of(names) -> list[dict]:
        roots = {s.sid for n in names for s in by.get(n, [])}
        ids = {f"pb:{i}" for i in descendants(spans, roots)}
        return [j for j in jobs if j["group"] in ids]

    applies = by.get("cdc.replay.apply_batch", [])
    edges = sorted([(s.start, 1) for s in applies] + [(s.end, -1) for s in applies])
    inflight = peak = 0
    for _, d in edges:
        inflight += d
        peak = max(peak, inflight)
    ingest_jobs = group_of(["cdc.replay.apply_batch"])
    merges = by.get("tableio.merge_apply", [])
    fold_jobs = group_of(["tableio.compaction.cycle"])
    read_jobs = group_of(CLIENT_READS)
    wall = t1 - t0
    run_s = _sum(jobs, "run_ms") / 1e3
    top = sorted((max(s.start, t0), min(s.end, t1)) for s in spans
                 if s.parent is None and s.thread == client_thread)
    out = {
        "cdc.skew.hot_key_counts_s": total("cdc.skew.hot_key_counts"),
        "cdc.skew.salted": sum(s.attrs.get("salted", False) for s in by.get("cdc.skew.should_salt", [])),
        "cdc.replay.bounds_s": total("cdc.replay.bounds"),
        "cdc.replay.bounds_fallbacks": sum(s.attrs.get("fallback", False)
                                           for s in by.get("cdc.replay.bounds", [])),
        "cdc.replay.apply_batch_self_s": median([self_t[s.sid] for s in applies]) if applies else 0,
        "cdc.replay.inflight_max": peak,
        "cdc.schema_evolution.conform_s": median(dur("cdc.schema_evolution.conform")) if applies else 0,
        "cdc.lww.collapse_plan_s": median(dur("cdc.lww.collapse_plan")) if applies else 0,
        "cdc.lww.shuffle_write_bytes_per_event": _sum(ingest_jobs, "shuffle_write_bytes") / max(events, 1),
        "cdc.lww.shuffle_records": _sum(ingest_jobs, "shuffle_write_records"),
        "tableio.merge_apply_self_s": median([self_t[s.sid] for s in merges]) if merges else 0,
        "tableio.files_written_per_batch": median([s.attrs.get("files", 0) for s in merges]) if merges else 0,
        "tableio.bytes_written_per_event": sum(s.attrs.get("bytes", 0) for s in merges) / max(events, 1),
        "tableio.manifest_reads": len(by.get("tableio.manifest_read", [])),
        "tableio.manifest_read_s": total("tableio.manifest_read"),
        "tableio.compaction.cycles": len(by.get("tableio.compaction.cycle", [])),
        "tableio.compaction.busy_s": total("tableio.compaction.cycle"),
        "tableio.compaction.major_buckets": sum(s.attrs.get("buckets", 0) for s in by.get("tableio.compaction.major", [])),
        "tableio.compaction.minor_buckets": sum(s.attrs.get("buckets", 0) for s in by.get("tableio.compaction.minor", [])),
        "tableio.compaction.bytes_rewritten": sum(s.attrs.get("bytes", 0)
                                                  for n in ("tableio.compaction.major", "tableio.compaction.minor")
                                                  for s in by.get(n, [])),
        "tableio.compaction.drain_s": total("client.drain"),
        "tableio.compaction.spark_jobs": len(fold_jobs),
        "tableio.read.input_bytes": _sum(read_jobs, "input_bytes"),
        "spark.jobs": len(jobs),
        "spark.tasks": _sum(jobs, "tasks"),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": _sum(jobs, "cpu_ns") / 1e9,
        "spark.slot_busy_share": run_s / (wall * cores()),
        "spark.shuffle_write_bytes": _sum(jobs, "shuffle_write_bytes"),
        "spark.shuffle_read_bytes": _sum(jobs, "shuffle_read_bytes"),
        "spark.spill_bytes": _sum(jobs, "spill_bytes"),
        "spark.gc_s": _sum(jobs, "gc_ms") / 1e3,
        "trace.unaccounted_share": 1 - covered(top) / wall,
        "trace.spans": len(spans),
    }
    for q in QUERIES:
        out[f"query.{q}_s"] = total(f"query.{q}")
        out[f"query.{q}.build_s"] = total(f"query.{q}.build")
    return out


LAYER_UNITS = {
    "cdc.skew.hot_key_counts_s": "s", "cdc.skew.salted": "count",
    "cdc.replay.bounds_s": "s", "cdc.replay.bounds_fallbacks": "count",
    "cdc.replay.apply_batch_self_s": "s", "cdc.replay.inflight_max": "count",
    "cdc.schema_evolution.conform_s": "s",
    "cdc.lww.collapse_plan_s": "s", "cdc.lww.shuffle_write_bytes_per_event": "B/event",
    "cdc.lww.shuffle_records": "count",
    "tableio.merge_apply_self_s": "s", "tableio.files_written_per_batch": "count",
    "tableio.bytes_written_per_event": "B/event", "tableio.manifest_reads": "count",
    "tableio.manifest_read_s": "s",
    "tableio.compaction.cycles": "count", "tableio.compaction.busy_s": "s",
    "tableio.compaction.major_buckets": "count", "tableio.compaction.minor_buckets": "count",
    "tableio.compaction.bytes_rewritten": "B", "tableio.compaction.drain_s": "s",
    "tableio.compaction.spark_jobs": "count",
    "tableio.read.delta_files_per_bucket": "count", "tableio.read.files_scanned_per_lookup": "count",
    "tableio.read.input_bytes": "B",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.slot_busy_share": "share",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B", "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    **{f"query.{q}_s": "s" for q in QUERIES},
    **{f"query.{q}.build_s": "s" for q in QUERIES},
    **{f"query.{q}.codegen_fallback_nodes": "count" for q in QUERIES},
    "trace.unaccounted_share": "share", "trace.overhead_s": "s", "trace.spans": "count",
}
