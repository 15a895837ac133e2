"""Session start, operation accounting, statistics and Spark status-store
reads shared by every workload.

The session is the program's own `get_spark` with the caller-side settings
`bench.py` fixes (local[cores], its FAIR pool file `bench/fairscheduler.xml`
for the compactor, 32 MB scan splits). Only paths are redirected: the Spark
local dir, JVM temp dir and warehouse live inside the benchmark's work
directory, so a run writes nothing outside its checkout.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs) -> tuple[float, int, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). With fewer than 11 samples no
    percentile qualifies: the maximum, with percentile -1."""
    s, n = sorted(xs), len(xs)
    if n < 11:
        return (s[-1] if s else float("nan")), -1, n
    pct = math.floor(100 * (n - 10) / n)
    return s[n - 11], pct, n


def seq(x) -> list:
    """A Scala Seq reached through py4j, as a list."""
    return [x.apply(i) for i in range(x.size())]


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds the processes (all their threads) used."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += (int(fields[11]) + int(fields[12])) / tick  # utime, stime
    return total


def calibration_s() -> float:
    """How fast the host runs right now: the median time of five runs of a
    fixed pure-Python loop. It calls nothing of the program, so only the
    host moves it."""
    def once() -> float:
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i % 7
        return time.perf_counter() - t0

    return statistics.median(once() for _ in range(5))


def rss_peak_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


class PassCtx:
    """One pass: its timed window, samples noted during it, and (traced
    passes) the spans and Spark job ids recorded inside that window, as
    [span0, span1) and [job0, job1), for layer attribution."""

    def __init__(self, bench, traced: bool):
        self.b, self.traced = bench, traced
        self.notes: dict[str, list] = {}
        self.wall = self.t0 = self.t1 = None
        self.events = 0
        self.span0 = self.span1 = self.job0 = self.job1 = 0

    def note(self, key: str, value) -> None:
        self.notes.setdefault(key, []).append(value)

    @contextmanager
    def timed(self):
        tr = self.b.tracer
        if self.traced:
            self.job0 = self.b.next_job_id()
            self.span0 = len(tr.spans)
            tr.enabled = True
        c0 = cpu_s(self.b.pids)
        self.t0 = time.perf_counter()
        try:
            yield
        finally:
            self.t1 = time.perf_counter()
            self.wall = self.t1 - self.t0
            if tr is not None:
                tr.enabled = False
            if self.traced:
                self.job1 = self.b.next_job_id()
                self.span1 = len(tr.spans)
            self.note("wall", self.wall)
            self.note("cpu", cpu_s(self.b.pids) - c0)


class Bench:
    """One benchmark run: the session, the counters behind `attempted`,
    `failed` and `result_mismatches`, and the metric sinks."""

    def __init__(self, root: str, work: str, cache: str, seed: int, seconds: int, trace: bool):
        self.root, self.work, self.cache = root, work, cache
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.attempted = self.failed = 0
        self.checks = self.mismatches = 0
        self.spark = None
        self.pids: list[int] = []  # this process and the JVM
        self.tracer = None

    # ---- session ----
    def start_spark(self) -> float:
        from pentaho_kettle_spark.session import get_spark

        n = cores()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
            extra_conf={
                "spark.scheduler.mode": "FAIR",
                "spark.scheduler.allocation.file":
                    os.path.join(self.root, "bench", "fairscheduler.xml"),
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # no hsperfdata file: HotSpot writes it to /tmp whatever the
                # temp dir, and a run writes only inside its checkout
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'jvm-tmp')} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        self.spark.sparkContext.setLogLevel("ERROR")
        elapsed = time.perf_counter() - t0
        self.pids = [os.getpid(), int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())]
        return elapsed

    def peak_rss_mb(self) -> float:
        return rss_peak_mb(self.pids)

    # ---- accounting ----
    def op(self, fn, *args, **kwargs):
        """Run one operation of the workload; a raised error counts as a
        failed operation (traceback to stderr) and returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - counted and reported, run goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.mismatches += 1
            print(f"perfbench: MISMATCH {what}", file=sys.stderr)

    def timed_loop(self, run_pass, min_passes: int = 2) -> int:
        """Call `run_pass(i)` until --seconds have elapsed and at least
        `min_passes` ran. Returns the pass count."""
        t_end = time.perf_counter() + self.seconds
        i = 0
        while i < min_passes or time.perf_counter() < t_end:
            run_pass(i)
            i += 1
        return i

    # ---- Spark status store ----
    def jobs_between(self, first_job: int, end_job: int) -> list[dict]:
        """Jobs with first_job ≤ id < end_job and the metrics of their
        stages, read from the status store (populated with the UI off)."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        out = []
        for j in seq(store.jobsList(None)):
            jid = int(j.jobId())
            if not first_job <= jid < end_job:
                continue
            g = j.jobGroup()
            stages = []
            for sid in seq(j.stageIds()):
                try:
                    s = store.lastStageAttempt(int(sid))
                except Exception:  # noqa: BLE001 - evicted or skipped stage
                    continue
                if str(s.status()) == "SKIPPED":
                    continue
                stages.append({
                    "tasks": int(s.numTasks()),
                    "run_ms": int(s.executorRunTime()),
                    "cpu_ns": int(s.executorCpuTime()),
                    "gc_ms": int(s.jvmGcTime()),
                    "shuffle_write_bytes": int(s.shuffleWriteBytes()),
                    "shuffle_write_records": int(s.shuffleWriteRecords()),
                    "shuffle_read_bytes": int(s.shuffleReadBytes()),
                    "spill_bytes": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
                    "input_bytes": int(s.inputBytes()),
                })
            out.append({"job": jid, "group": g.get() if g.isDefined() else None,
                        "stages": stages})
        return out

    def next_job_id(self) -> int:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        return max([int(j.jobId()) for j in seq(store.jobsList(None))] + [-1]) + 1
