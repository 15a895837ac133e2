"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a pentaho_kettle_spark checkout. Workloads:
mor_ingest_serve and kettle_steps (see perfbench/README.md). Each run
starts one Spark session on local[cores], prepares the seeded inputs, sets
up, warms up untimed and then runs timed passes until --seconds have
elapsed and at least three have run, checks every output against its
reference, and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
program's entry points are wrapped in spans on two of four timed passes and
the metrics are the per-layer ones. Everything the run writes goes under
`.perfbench/` in the checkout; the run's own tables and Spark directories
are deleted at the end, and generated inputs are kept there per seed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s"}
# the workload-specific end-to-end figures; printed by every run and carried
# as `e2e.*` per-layer metrics of the traced run (from its untraced passes)
DETAIL_UNITS = {
    "ingest_events_per_s": "1/s", "commit_latency_p50_s": "s", "scan_s": "s",
    "recent_scan_s": "s", "lookup_p50_s": "s", "lookup_tail_s": "s", "changes_feed_s": "s",
    "query_suite_s": "s", "stored_bytes_per_row": "B", "peak_rss_mb": "MB",
}


def host_context(root: str) -> dict:
    """What a reader needs to compare a result with another: cores, load,
    code version and library versions."""
    import hashlib

    import duckdb
    import pyarrow
    import pyspark

    from perfbench.harness import cores

    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    # a checkout without git history still gets a version: the source hash
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(root, "pentaho_kettle_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(root, "__spark_entry__.py"), "rb") as fh:
        h.update(fh.read())
    return {"cpus": cores(), "loadavg_before": os.getloadavg(), "commit": commit,
            "source_sha256": h.hexdigest()[:16],
            "python": platform.python_version(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__}


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding `path` (tmpfs or a disk)."""
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "pentaho_kettle_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the root of a pentaho_kettle_spark checkout "
              "(package not found here)", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    sys.path[:0] = [root]
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    for d in os.listdir(base) if os.path.isdir(base) else []:
        # a run killed before its cleanup leaves its directory behind
        if d.startswith("run-") and not os.path.exists(f"/proc/{d[4:]}"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    for d in ("tmp", "jvm-tmp", "spark-local", "tables"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # every scratch path of Python, the JVM and Spark points into the run dir;
    # set before pyspark or pandas is imported
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the same for the short-lived JVM that spark-submit runs to build the
    # driver's command line (HotSpot's perf-data file goes to /tmp otherwise)
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}")
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    try:
        return run(args, root, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def traced_metrics(b, wl, plain: list, traced: list, detail: dict) -> dict[str, float]:
    """The per-layer metrics: medians over the traced passes, the tracing
    overhead, the plan gate counts, and the untraced passes' `e2e.*`."""
    from perfbench import layers
    from perfbench.harness import median
    from perfbench.workloads import QUERIES, KettleSteps

    rows = []
    for p in traced:
        m = layers.pass_metrics(b.tracer.spans[p.span0:p.span1], b.jobs_between(p.job0, p.job1),
                                p.t0, p.t1, p.events, threading.main_thread().name)
        for k in ("delta_files_per_bucket", "files_scanned_per_lookup"):
            m[f"tableio.read.{k}"] = median(p.notes.get(k, [0]))
        rows.append(m)
    b.tracer.uninstall()
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    out["trace.overhead_s"] = median([p.wall for p in traced]) - median([p.wall for p in plain])
    for q in QUERIES:
        out[f"query.{q}.codegen_fallback_nodes"] = (
            wl.codegen_fallback_nodes(q) if isinstance(wl, KettleSteps) else 0)
    for k in DETAIL_UNITS:
        out[f"e2e.{k}"] = detail.get(k, 0)
    return out


def run(args, root: str, base: str, work: str) -> int:
    from perfbench import layers
    from perfbench.harness import Bench, calibration_s, median, tail
    from perfbench.tracer import Tracer
    from perfbench.workloads import WORKLOADS

    context = host_context(root)
    context["paths"] = {"work": work, "cache": os.path.join(base, "cache"),
                        "filesystem": fs_type(work)}
    b = Bench(root, work, os.path.join(base, "cache"), args.seed, args.seconds, bool(args.trace))
    session_s = b.start_spark()
    try:
        phases = context["phases_s"] = {"session": session_s}
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](b)
        wl.prepare()
        phases["prepare"] = time.perf_counter() - t
        if b.trace:
            b.tracer = Tracer(b.spark)
            layers.install(b.tracer)
        t = time.perf_counter()
        wl.warm_up()
        phases["warm_up"] = time.perf_counter() - t
        # the host is shared and its speed drifts, by up to 2x within hours;
        # the probe shows how fast it ran
        context["calibration_s"] = calibration_s()
        passes = []
        t = time.perf_counter()
        # a traced run orders its passes untraced, traced, traced, untraced, so
        # the passes still warming up weigh on both sides alike
        b.timed_loop(lambda k: passes.append(wl.one_pass(k + 1, b.trace and k % 4 in (1, 2))),
                     min_passes=4 if b.trace else wl.MIN_PASSES)
        phases["passes"] = time.perf_counter() - t
        context["pass_walls_s"] = [p.wall for p in passes]
        t = time.perf_counter()
        plain = [p for p in passes if not p.traced]
        traced = [p for p in passes if p.traced]
        samples: dict[str, list] = {}
        for p in plain:
            for k, v in p.notes.items():
                samples.setdefault(k, []).extend(v)
        detail = wl.finish(samples)
        e2e = {"setup_s": session_s + median(wl.setups), "pass_s": detail.pop("pass_s"),
               "pass_cpu_s": median(samples["cpu"])}
        detail["peak_rss_mb"] = b.peak_rss_mb()
        phases["finish"] = time.perf_counter() - t
        if "lookup_s" in samples:
            _, pct, n = tail(samples["lookup_s"])
            context["lookup_tail"] = {"percentile": pct, "samples": n}

        per_layer = traced_metrics(b, wl, plain, traced, detail) if b.trace else {}
        if b.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            with open(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
                      "w") as f:
                json.dump([s.as_dict() for s in b.tracer.spans], f)
    finally:
        stop_spark(b.spark)

    context["loadavg_after"] = os.getloadavg()
    correct = b.mismatches == 0 and b.checks > 0
    for k, v in e2e.items():
        print(f"{args.workload} {k} = {v:.6g} {E2E_UNITS[k]}")
    for k, v in detail.items():
        print(f"{args.workload} {k} = {v:.6g} {DETAIL_UNITS[k]}")
    print(f"{args.workload} result_mismatches = {b.mismatches} of {b.checks} checks")
    print(f"{args.workload} ops_failed_share = {b.failed / max(b.attempted, 1):.6g} "
          f"({b.failed} of {b.attempted} operations)")
    print(f"{args.workload} passes = {len(plain)} untraced, {len(traced)} traced")
    units = {**E2E_UNITS, **layers.LAYER_UNITS, **{f"e2e.{k}": u for k, u in DETAIL_UNITS.items()}}
    for k, v in per_layer.items():
        print(f"{args.workload} {k} = {v:.6g} {units[k]}")
    print("context " + json.dumps(context))
    metrics = {k: {"value": v, "unit": units[k]} for k, v in (per_layer or e2e).items()}
    result = {"correct": correct, "attempted": b.attempted, "failed": b.failed,
              "metrics": metrics}
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}"
                                            ".json"), "w") as f:
        json.dump({**result, "detail": detail, "context": context}, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
