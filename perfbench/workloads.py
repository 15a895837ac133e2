"""The workloads. Each drives the engine only through its public entry
points (`replay_changelog`, `apply_batch`, `ParquetSnapshotTableIO`,
`CompactionScheduler`, `__spark_entry__.queries()`), with the program's
defaults and the caller-side arguments `bench.py` fixes (32 buckets, the
compaction policy, the FAIR pool file).

A workload is a class with three steps:

* `prepare()` — generate the seeded inputs and their reference answers
  (untimed, cached per seed);
* `setup(i)` — the program-side set-up one pass needs (a table, its
  bootstrap), timed into `setup_s`;
* `run(i, ctx)` — one pass; the part inside `ctx.timed()` is the measured
  window, the rest (scans for checks, digests) is not.

`finish()` turns the per-pass samples into the run's metrics.
"""

from __future__ import annotations

import datetime
import os
import shutil
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.harness import PassCtx, median, seq, tail

N_BUCKETS = 32  # as bench.py
COMPACTION_POLICY = dict(max_delta_files=2, major_min_delta_share=0.25, stagger=3)
DIGEST_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts_us"]
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
               "events", "documents", "embeddings")
# headline queries as bench.py lists them, plus ROADMAP item 4's target
QUERIES = [
    "q1_pricing_summary", "multiway_join_agg", "merge_rows_diff", "cdc_lww_collapse",
    "top_k", "denormaliser_pivot", "unique_rows", "stream_lookup", "minhash_dedup",
    "embedding_topk", "gopher_quality",
]


def transcripts_schema():
    import pyspark.sql.types as T

    from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA

    return T.StructType([f for f in CHANGELOG_SCHEMA.fields
                         if f.name not in ("seq", "op", "ingest_ts")])


def frame_digest(pdf: pd.DataFrame) -> list:
    """Order-insensitive digest of a transcripts frame (ts as epoch micros):
    row count and the wrapping sum of a 64-bit hash of every row."""
    pdf = pdf.assign(turn_idx=pdf["turn_idx"].astype("int64"))[DIGEST_COLS]
    h = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
    return [len(pdf), int(h.sum(dtype=np.uint64))]


def digest(df) -> list:
    """`frame_digest` of a visible table, fetched through Arrow."""
    cols = [F.col(c) for c in DIGEST_COLS[:-1]]
    cols.append(F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
    return frame_digest(df.select(*cols).toArrow().to_pandas())


def oracle_digest(pdf: pd.DataFrame) -> list:
    from pentaho_kettle_spark.fixtures.changelog_gen import pandas_oracle_apply

    return frame_digest(_with_ts_us(pandas_oracle_apply(pdf)))


def _with_ts_us(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.assign(ts_us=pdf["ts"].astype("datetime64[us]").astype("int64"))


def table_bytes(table) -> int:
    m = table.current_manifest()
    return sum(os.path.getsize(os.path.join(table.root, e["path"]))
               for es in m["files"].values() for e in es)


def delta_files_per_bucket(table) -> float:
    m = table.current_manifest()
    return float(np.mean([sum(1 for e in es if e.get("kind") == "delta")
                          for es in m["files"].values()] or [0]))


class Workload:
    name = ""
    # timed passes per run; the metrics are their medians. The first timed
    # pass is still 15-30% slower than the later ones (JIT), and a median of
    # three leaves it out where a median of two would average it in.
    MIN_PASSES = 3

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.setups: list[float] = []

    def one_pass(self, i: int, traced: bool = False) -> PassCtx:
        """Set up (timed into `setups`), then run pass `i`."""
        t0 = time.perf_counter()
        self.setup(i)
        self.setups.append(time.perf_counter() - t0)
        ctx = PassCtx(self.b, traced)
        self.run(i, ctx)
        return ctx

    def warm_up(self) -> None:
        """Untimed first pass: JIT, plan codegen, file listing."""
        self.one_pass(0)

    def tables_dir(self, i) -> str:
        return os.path.join(self.b.work, "tables", f"{self.name}-{i}")

    def new_table(self, i, mode: str, **kw):
        from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

        root = self.tables_dir(i)
        shutil.rmtree(root, ignore_errors=True)
        t = ParquetSnapshotTableIO(self.spark, root, n_buckets=N_BUCKETS, write_mode=mode, **kw)
        t.init_empty(transcripts_schema())
        return t

    def new_scheduler(self, table):
        from pentaho_kettle_spark.tableio.compaction import CompactionPolicy, CompactionScheduler

        return CompactionScheduler(table, CompactionPolicy(**COMPACTION_POLICY), interval_sec=1.0)

    def span(self, name: str):
        t = self.b.tracer
        return t.span(name) if t is not None else nullcontext()

    def scan(self, table) -> float:
        with self.span("client.scan"):
            t0 = time.perf_counter()
            self.b.op(lambda: table.read().write.format("noop").mode("overwrite").save())
            return time.perf_counter() - t0

    def check_table(self, table, want: list, what: str) -> int:
        got = self.b.op(digest, table.read())
        self.b.check(got == want, f"{self.name} {what}: table digest {got} != oracle {want}")
        return got[0] if got else 0


def _replay():
    # looked up per call so the traced run's wrapper is the one called
    from pentaho_kettle_spark.cdc import replay

    return replay


# --------------------------------------------------------------------------
# mor_ingest_serve
# --------------------------------------------------------------------------

class MorIngestServe(Workload):
    """The production ingest shape, then reads beside the compactor: a
    Zipf-1.2 change log replayed MoR into 32 buckets in 4 pipelined batches
    with async compaction on; then, while the table still carries deltas,
    point lookups of non-hot conversations, one recent-activity scan and
    the changes feed of the batch committed last; then the timed drain."""

    name = "mor_ingest_serve"
    EVENTS, CONVS, FILES, BATCHES, LOOKUPS = 60_000, 1_500, 8, 4, 5

    def prepare(self):
        from pentaho_kettle_spark.fixtures.changelog_gen import gen_changelog, pandas_oracle_apply

        key = f"mor-e{self.EVENTS}-c{self.CONVS}-b{self.BATCHES}-s{self.b.seed}"
        self.log_dir = os.path.join(self.b.cache, key, "log")

        def build():
            pdf = gen_changelog(self.EVENTS, self.CONVS, seed=self.b.seed)
            inputs.write_log(pdf, self.log_dir, self.FILES)
            final = _with_ts_us(pandas_oracle_apply(pdf))
            # lookup keys: conversations outside the ten hottest
            cold = sorted(pdf["conv_id"].value_counts().index[10:])
            rng = np.random.default_rng(self.b.seed)
            keys = [str(k) for k in rng.choice(cold, size=8 * self.LOOKUPS, replace=False)]
            rows = final.groupby("conv_id").size()
            cut = pdf["ts"].quantile(0.9)
            return {"events": len(pdf), "want": frame_digest(final), "keys": keys,
                    "key_rows": [int(rows.get(k, 0)) for k in keys],
                    "bounds": inputs.batch_bounds(self.log_dir, self.BATCHES),
                    "recent_cut": cut.isoformat(),
                    "recent_rows": int((final["ts"] > cut).sum())}

        self.ref = inputs.cached_entry(self.b.cache, key, build)
        self.recent_cut = datetime.datetime.fromisoformat(self.ref["recent_cut"])

    def setup(self, i):
        from pentaho_kettle_spark.cdc.changelog import read_changelog

        self.table = self.new_table(i, "mor", compact_delta_files=None,
                                    minor_compaction_engine="arrow")
        self.sched = self.new_scheduler(self.table)
        self.log = read_changelog(self.spark, self.log_dir)

    def run(self, i, ctx):
        t, ref, b = self.table, self.ref, self.b
        picks = [(i * self.LOOKUPS + j) % len(ref["keys"]) for j in range(self.LOOKUPS)]
        got_rows = []
        with ctx.timed():
            t0 = time.perf_counter()
            self.sched.start()
            lineage = b.op(_replay().replay_changelog, self.spark, t, self.log,
                           n_batches=self.BATCHES, salted="auto", n_salts=16, run_id=f"mor{i}")
            ingest_s = time.perf_counter() - t0
            for j in picks:
                with self.span("client.lookup"):
                    t0 = time.perf_counter()
                    got_rows.append(b.op(lambda: len(t.read_key(ref["keys"][j]).collect())))
                    ctx.note("lookup_s", time.perf_counter() - t0)
                ctx.note("files_scanned_per_lookup",
                         t.last_scan["files_total"] - t.last_scan["files_pruned"])
            with self.span("client.recent_scan"):
                t0 = time.perf_counter()
                b.op(lambda: t.read(lww_after=self.recent_cut)
                     .write.format("noop").mode("overwrite").save())
                ctx.note("recent_scan_s", time.perf_counter() - t0)
            last = max(lineage or [{"snapshot_id": t.snapshot_id(), "batch_id": None}],
                       key=lambda r: r["snapshot_id"])
            feed = (t.manifest_at(last["snapshot_id"])["parent"], last["snapshot_id"])
            with self.span("client.changes_feed"):
                t0 = time.perf_counter()
                b.op(lambda: t.read_changes(*feed).write.format("noop").mode("overwrite").save())
                ctx.note("changes_feed_s", time.perf_counter() - t0)
            ctx.note("delta_files_per_bucket", delta_files_per_bucket(t))
            with self.span("client.drain"):
                t0 = time.perf_counter()
                b.op(self.sched.stop, final_cycle=True)
                drain_s = time.perf_counter() - t0
        ctx.events = ref["events"]
        ctx.note("ingest_events_per_s", ref["events"] / (ingest_s + drain_s))
        for rec in lineage or []:
            ctx.note("commit_s", rec["batch_sec"])
        for j, got in zip(picks, got_rows):
            b.check(got == ref["key_rows"][j], f"lookup {ref['keys'][j]}: {got} rows, "
                                               f"oracle {ref['key_rows'][j]}")
        if i > 0:
            ctx.note("scan_s", self.scan(t))
        if i == 1:
            # the table checks run once, after the first timed pass: every
            # pass replays the same log, and each check costs a second or more
            rows = self.check_table(t, ref["want"], f"pass {i}")
            ctx.note("stored_bytes_per_row", table_bytes(t) / max(rows, 1))
            got = b.op(lambda: t.read(lww_after=self.recent_cut).count())
            b.check(got == ref["recent_rows"], f"recent scan: {got} rows, "
                                               f"oracle {ref['recent_rows']}")
            self.check_feed(t, last["batch_id"], feed)
        shutil.rmtree(self.tables_dir(i), ignore_errors=True)

    def check_feed(self, table, batch_id: str, feed: tuple) -> None:
        """The changes feed of the batch that committed last must equal the
        oracle's net change from (every other batch) to (every batch). The
        batches are those of `inputs.batch_bounds`, taken from the layout of
        the log as written."""
        from pentaho_kettle_spark.fixtures.changelog_gen import pandas_oracle_apply

        if batch_id is None:  # the replay itself failed
            self.b.check(False, "changes feed: no batch committed")
            return
        k = int(batch_id.rsplit("-", 1)[1])
        bounds = self.ref["bounds"]
        log = read_log(self.log_dir)
        ts = log["ingest_ts"]
        mine = pd.Series(True, index=log.index)
        if k > 0:
            mine &= ts > pd.Timestamp(bounds[k - 1])
        if k < self.BATCHES - 1:
            mine &= ts <= pd.Timestamp(bounds[k])
        want = net_changes(pandas_oracle_apply(log[~mine]), pandas_oracle_apply(log))
        got = self.b.op(lambda: table.read_changes(*feed)
                        .select("conv_id", "turn_idx", "_change_type").toPandas())
        self.b.check(got is not None and set(map(tuple, got.values.tolist())) == want,
                     f"changes feed of batch {batch_id}")

    def finish(self, s):
        return {"pass_s": median(s["wall"]),
                "ingest_events_per_s": median(s["ingest_events_per_s"]),
                "commit_latency_p50_s": median(s["commit_s"]),
                "scan_s": median(s["scan_s"]), "recent_scan_s": median(s["recent_scan_s"]),
                "lookup_p50_s": median(s["lookup_s"]), "lookup_tail_s": tail(s["lookup_s"])[0],
                "changes_feed_s": median(s["changes_feed_s"]),
                "stored_bytes_per_row": median(s["stored_bytes_per_row"])}


def read_log(path: str) -> pd.DataFrame:
    """A change log written by `inputs.write_log`, as the oracle takes it."""
    import pyarrow.parquet as pq

    log = pq.read_table(path).to_pandas()
    for c in ("ts", "ingest_ts"):
        log[c] = log[c].dt.tz_convert(None).astype("datetime64[us]")
    return log


def net_changes(old: pd.DataFrame, new: pd.DataFrame) -> set:
    """{(conv_id, turn_idx, change type)} between two oracle states."""
    j = old.merge(new, on=["conv_id", "turn_idx"], how="outer", indicator=True,
                  suffixes=("_o", "_n"))
    changed = pd.Series(False, index=j.index)
    for c in ("role", "text", "tool", "ts"):
        a, b = j[f"{c}_o"], j[f"{c}_n"]
        changed |= ~((a == b) | (a.isna() & b.isna()))
    kind = np.select([j["_merge"] == "right_only", j["_merge"] == "left_only", changed],
                     ["insert", "delete", "update"], default="")
    return {(c, int(t), k) for c, t, k in zip(j["conv_id"], j["turn_idx"], kind) if k}


# --------------------------------------------------------------------------
# kettle_steps
# --------------------------------------------------------------------------

class KettleSteps(Workload):
    """The bench.py headline queries plus gopher_quality over a seeded star
    schema; each query is built (DataFrame construction) and run to a noop
    sink. No table IO."""

    name = "kettle_steps"
    ORDERS = 15_000

    def prepare(self):
        import __spark_entry__ as entry

        key = f"star-o{self.ORDERS}-s{self.b.seed}"
        self.sf = os.path.join(self.b.cache, key)
        inputs.cached_entry(self.b.cache, key,
                            lambda: inputs.gen_star_schema(self.sf, self.b.seed, self.ORDERS))
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def warm_up(self) -> None:
        """The oracle check runs every query once, cold; one untimed pass to
        the noop sink follows, because a pass right after the check is still
        20-30% slower than the later ones (JIT)."""
        self.setup(0)
        self.check_oracles()
        super().warm_up()

    def setup(self, i):
        for t in STAR_TABLES:
            self.spark.read.parquet(f"{self.sf}/{t}.parquet").schema

    def run(self, i, ctx):
        with ctx.timed():
            for name in QUERIES:
                with self.span(f"query.{name}"):
                    t0 = time.perf_counter()
                    with self.span(f"query.{name}.build"):
                        df = self.b.op(self.queries[name], self.spark, self.sf)
                    t1 = time.perf_counter()
                    if df is not None:
                        with self.span(f"query.{name}.run"):
                            self.b.op(lambda: df.write.format("noop").mode("overwrite").save())
                    t2 = time.perf_counter()
                ctx.note(f"query.{name}_s", t2 - t0)
                ctx.note(f"query.{name}.build_s", t1 - t0)

    def finish(self, s):
        per_query = [median(s[f"query.{q}_s"]) for q in QUERIES]
        return {"pass_s": sum(per_query), "query_suite_s": sum(per_query)}

    def check_oracles(self) -> None:
        """Every query against its oracle_sql() on DuckDB."""
        import duckdb

        con = duckdb.connect()
        con.sql(f"SET temp_directory='{os.path.join(self.b.work, 'duckdb-tmp')}'")
        for t in STAR_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        for name in QUERIES:
            got = self.b.op(lambda: self.queries[name](self.spark, self.sf).toPandas())
            want = self.b.op(lambda: con.sql(self.oracles[name]).df())
            ok = got is not None and want is not None and _frames_equal(got, want)
            self.b.check(ok, f"kettle query {name} differs from its DuckDB oracle")
        con.close()

    def codegen_fallback_nodes(self, name: str) -> int:
        """CodegenFallback expressions (interpreted evaluation) in the
        query's physical plan."""
        jvm = self.spark.sparkContext._jvm
        cf = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback")

        def expr(e) -> int:
            return int(cf.isInstance(e)) + sum(expr(c) for c in seq(e.children()))

        def plan(p) -> int:
            n = sum(expr(e) for e in seq(p.expressions()))
            cls = p.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                return n + plan(p.executedPlan())
            if cls.endswith("QueryStageExec"):
                return n + plan(p.plan())
            return n + sum(plan(c) for c in seq(p.children()))

        df = self.queries[name](self.spark, self.sf)
        return plan(df._jdf.queryExecution().executedPlan())


def _frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """tools/check_oracle.py's comparison: row count, column names and dtypes
    after its width normalisation, then exact values."""
    from tools.check_oracle import _normalize

    g, w = _normalize(got), _normalize(want)
    if len(g) != len(w) or list(g.columns) != list(w.columns) or list(g.dtypes) != list(w.dtypes):
        return False
    try:
        pd.testing.assert_frame_equal(g, w, check_exact=True)
    except AssertionError:
        return False
    return True


WORKLOADS = {w.name: w for w in (MorIngestServe, KettleSteps)}
