"""Round-6 measurement harness (guide §1): per-query noop-sink isolation,
plan capture, and CDC replay isolation — WITHOUT touching the frozen
bench.py. Usage:

  python bench_extra.py queries [name ...]   # time + capture plans
  python bench_extra.py plans  [name ...]    # capture .explain("formatted") only
  python bench_extra.py cdc [mor|cow]        # replay isolation

Env: SPARK_GRAFT_SF_DIR (default sf1.0 — the driver's r5 escalated scale),
SPARK_GRAFT_CPUS (default 32), PKS_PLAN_DIR (default plans/r06),
PKS_PLAN_SUFFIX (default "before").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
PLAN_DIR = os.environ.get("PKS_PLAN_DIR", "plans/r06")
SUFFIX = os.environ.get("PKS_PLAN_SUFFIX", "before")

HEADLINE = [
    "q1_pricing_summary",
    "multiway_join_agg",
    "merge_rows_diff",
    "cdc_lww_collapse",
    "top_k",
    "denormaliser_pivot",
    "unique_rows",
    "stream_lookup",
    "minhash_dedup",
    "embedding_topk",
]


def _spark():
    from pentaho_kettle_spark.session import get_spark

    fair_xml = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench", "fairscheduler.xml"
    )
    spark = get_spark(app_name="pks-bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS),
                      extra_conf={
                          "spark.scheduler.mode": "FAIR",
                          "spark.scheduler.allocation.file": fair_xml,
                      })
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
    return spark


def _queries(spark):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    def _minhash_scale(spark, sf):
        from pentaho_kettle_spark.functions import dedup as fdedup

        d = spark.read.parquet(f"{sf}/documents.parquet")
        kept = fdedup.minhash_lsh_keep(d, "text", "doc_id", num_hashes=32, bands=8)
        return kept.select("doc_id", "n_chars")

    return {**qs, "minhash_dedup": _minhash_scale}


def run_queries(names):
    spark = _spark()
    qs = _queries(spark)
    os.makedirs(PLAN_DIR, exist_ok=True)
    out = {}
    for name in names:
        fn = qs[name]
        df = fn(spark, SF_DIR)
        with open(os.path.join(PLAN_DIR, f"{name}_{SUFFIX}.txt"), "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        spark.sparkContext.setJobDescription(f"{name} warmup")
        df.count()
        samples = []
        for i in range(5):
            spark.sparkContext.setJobDescription(f"{name} pass{i}")
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        out[name] = {"median": sorted(samples)[2], "passes": samples}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"total_median": round(sum(v["median"] for v in out.values()), 3),
                      "sf": SF_DIR}))


def run_plans(names):
    spark = _spark()
    qs = _queries(spark)
    os.makedirs(PLAN_DIR, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        with open(os.path.join(PLAN_DIR, f"{name}_{SUFFIX}.txt"), "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print(f"wrote {PLAN_DIR}/{name}_{SUFFIX}.txt")


def run_cdc(which):
    import shutil
    import tempfile

    import pyspark.sql.types as T

    from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA, read_changelog
    from pentaho_kettle_spark.cdc.replay import replay_changelog
    from pentaho_kettle_spark.tableio.compaction import (
        CompactionPolicy,
        CompactionScheduler,
    )
    from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

    spark = _spark()
    TMP_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    BENCH_EVENTS = int(os.environ.get("PKS_BENCH_EVENTS", "2000000"))
    BENCH_CONVS = int(os.environ.get("PKS_BENCH_CONVS", "40000"))
    cache = f"{TMP_BASE}/pks_bench_cache/changelog_e{BENCH_EVENTS}_c{BENCH_CONVS}_s42_z1.2_rng"
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        from pentaho_kettle_spark.fixtures.changelog_gen import gen_changelog

        pdf = gen_changelog(BENCH_EVENTS, BENCH_CONVS, seed=42)
        spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).repartitionByRange(
            32, "ingest_ts"
        ).sortWithinPartitions("ingest_ts").write.mode("overwrite").parquet(cache)
    log = read_changelog(spark, cache)
    sch = T.StructType(
        [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op", "ingest_ts")]
    )
    n_passes = int(os.environ.get("PKS_CDC_PASSES", "3"))
    if which in ("mor", "both"):
        walls = []
        for run in range(n_passes):
            root = tempfile.mkdtemp(prefix="pks_x_mor_", dir=TMP_BASE)
            table = ParquetSnapshotTableIO(
                spark, root + "/t", n_buckets=32, write_mode="mor",
                compact_delta_files=None,
            )
            table.init_empty(sch)
            sched = CompactionScheduler(
                table,
                CompactionPolicy(max_delta_files=2, major_min_delta_share=0.25,
                                 stagger=3),
                interval_sec=1.0,
            )
            t0 = time.time()
            sched.start()
            replay_changelog(spark, table, log, n_batches=4, salted="auto",
                             n_salts=16, run_id=f"x{run}")
            sched.stop(final_cycle=True)
            walls.append(round(time.time() - t0, 2))
            shutil.rmtree(root, ignore_errors=True)
        print(json.dumps({"mor_passes": walls, "best": min(walls)}))
    if which in ("cow", "both"):
        walls = []
        for run in range(n_passes):
            root = tempfile.mkdtemp(prefix="pks_x_cow_", dir=TMP_BASE)
            table = ParquetSnapshotTableIO(spark, root + "/t", n_buckets=32,
                                           write_mode="cow")
            table.init_empty(sch)
            t0 = time.time()
            replay_changelog(spark, table, log, n_batches=1, salted="auto",
                             n_salts=16, run_id=f"x{run}")
            walls.append(round(time.time() - t0, 2))
            shutil.rmtree(root, ignore_errors=True)
        print(json.dumps({"cow_passes": walls, "best": min(walls)}))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    rest = sys.argv[2:]
    if cmd == "queries":
        run_queries(rest or HEADLINE)
    elif cmd == "plans":
        run_plans(rest or HEADLINE)
    elif cmd == "cdc":
        run_cdc(rest[0] if rest else "both")
    else:
        raise SystemExit(f"unknown cmd {cmd}")
